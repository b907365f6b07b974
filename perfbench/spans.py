"""In-memory span tracer for the traced run.

Spans are recorded from the benchmark's side of each layer boundary:

* pipeline stages come from ``kg.pipeline``'s own ``stage_start`` /
  ``stage_done`` events on the ``kg`` logger — they bracket each stage's
  writes, so the span covers the stage's Spark actions, not just plan
  construction;
* table writes, lineage-store calls and star-CC rounds come from thin
  wrappers installed only while tracing (``Tracer.install``);
* graph queries are spanned by the workload around the call *and* the
  action that consumes it.

A span is (name, start, end, parent, op id).  Spark jobs and tasks are
attributed to a span by the job ids that appeared while it was open: the
traced op runs under its own job group, and jobs submitted from the
pipeline's helper threads (which carry no group) are picked up from the
ungrouped list.  Pipeline stages run one after another, so the windows do
not overlap.  Spans stay in memory until ``dump``.
"""

from __future__ import annotations

import functools
import json
import logging
import os
import threading
import time
from contextlib import contextmanager

class _StageEvents(logging.Handler):
    """Opens/closes stage spans from kg's structured stage events."""

    def __init__(self, tracer: "Tracer", stages: tuple[str, ...]):
        super().__init__(logging.INFO)
        self.tracer = tracer
        self.stages = stages
        self.open: dict[str, dict] = {}

    def emit(self, record: logging.LogRecord) -> None:
        try:
            ev = json.loads(record.getMessage())
        except ValueError:
            return
        stage = ev.get("stage")
        if stage not in self.stages:
            return
        if ev.get("event") == "stage_start":
            self.open[stage] = self.tracer.begin(stage, jobs=True)
        elif ev.get("event") == "stage_done" and stage in self.open:
            self.tracer.end(self.open.pop(stage))


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.op_id: str | None = None
        self.counters: dict[str, float] = {}
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: dict | None = None
        self._seen_stages: set[int] = set()
        self._undo: list = []

    # -- spans ---------------------------------------------------------------
    def _job_ids(self) -> set[int]:
        st = self.sc.statusTracker()
        ids = set(st.getJobIdsForGroup(None))
        if self.op_id:
            ids.update(st.getJobIdsForGroup(self.op_id))
        return ids

    def begin(self, name: str, jobs: bool = False) -> dict:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else self._root
        span = {
            "name": name,
            "op": self.op_id,
            "parent": parent["name"] if parent else None,
            "start": time.perf_counter(),
            "end": None,
        }
        if jobs:
            span["_jobs0"] = self._job_ids()
        stack.append(span)
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        if "_jobs0" in span:
            new = sorted(self._job_ids() - span.pop("_jobs0"))
            span["jobs"] = len(new)
            span["tasks"] = self._tasks(new)
        stack = self._local.stack
        if span in stack:
            stack.remove(span)
        with self._lock:
            self.spans.append(span)

    @contextmanager
    def span(self, name: str, jobs: bool = False):
        s = self.begin(name, jobs=jobs)
        try:
            yield s
        finally:
            self.end(s)

    def _tasks(self, job_ids: list[int]) -> int:
        st = self.sc.statusTracker()
        n = 0
        for j in job_ids:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else ():
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                si = st.getStageInfo(sid)
                n += si.numCompletedTasks if si else 0
        return n

    @contextmanager
    def op(self, op_id: str):
        """Root span of one traced op; its Spark jobs run under a job
        group named after the op."""
        self.op_id = op_id
        self.counters = {}
        self.sc.setJobGroup(op_id, op_id)
        self._root = self.begin("op", jobs=True)
        try:
            yield self._root
        finally:
            root, self._root = self._root, None
            self.end(root)
            root["counters"] = dict(self.counters)
            self.sc.setJobGroup("untraced", "untraced")
            self.op_id = None

    @contextmanager
    def attach(self, op_id: str):
        """Attribute spans to an op that already ended (post-op reads)."""
        self.op_id = op_id
        self.sc.setJobGroup(op_id, op_id)
        try:
            yield
        finally:
            self.sc.setJobGroup("untraced", "untraced")
            self.op_id = None

    def count(self, key: str, n: float = 1) -> None:
        with self._lock:
            self.counters[key] = self.counters.get(key, 0) + n

    def op_spans(self, op_id: str) -> list[dict]:
        return [s for s in self.spans if s["op"] == op_id]

    # -- layer hooks ---------------------------------------------------------
    def install(self) -> None:
        """Hook the layer boundaries kg.pipeline crosses (undone by
        ``uninstall``)."""
        import kg.canonicalize.cc as cc
        import kg.lineage as lineage
        import kg.pipeline as pipeline

        log = logging.getLogger("kg")
        handler = _StageEvents(self, pipeline.STAGES)
        old_level = log.level
        log.addHandler(handler)
        log.setLevel(logging.INFO)
        self._undo.append(lambda: (log.removeHandler(handler), log.setLevel(old_level)))

        tracer = self

        def wrap(owner, attr, make):
            orig = getattr(owner, attr, None)
            if orig is None:
                return
            setattr(owner, attr, make(orig))
            self._undo.append(lambda: setattr(owner, attr, orig))

        def traced_write(orig):
            @functools.wraps(orig)
            def w(df, path, *a, **kw):
                with tracer.span("write:" + os.path.basename(path.rstrip("/"))):
                    return orig(df, path, *a, **kw)
            return w

        wrap(pipeline, "_write", traced_write)

        def traced_lineage(name):
            def make(orig):
                @functools.wraps(orig)
                def w(store, *a, **kw):
                    if getattr(tracer._local, "in_lineage", False):
                        return orig(store, *a, **kw)
                    tracer._local.in_lineage = True
                    try:
                        with tracer.span("lineage." + name):
                            out = orig(store, *a, **kw)
                    finally:
                        tracer._local.in_lineage = False
                    if name == "changed_buckets" and a and a[0] == "extract":
                        tracer.count("lineage.buckets_changed", len(out))
                    if name == "record_buckets" and a and a[0] == "extract":
                        rows = a[1] if isinstance(a[1], list) else []
                        tracer.count("extract.buckets", len(rows))
                        tracer.count("extract.files_in",
                                     sum(int(r["rows_in"]) for r in rows))
                        tracer.count("extract.triples_out",
                                     sum(int(r["rows_out"]) for r in rows))
                    return out
                return w
            return make

        for name in (
            "completed_buckets", "changed_buckets", "invalidate_buckets",
            "invalidate_stages", "stage_done", "record_buckets",
            "record_stage", "stage_input_fp", "reset", "read",
        ):
            wrap(lineage.LineageStore, name, traced_lineage(name))

        def counted_round(orig):
            @functools.wraps(orig)
            def w(*a, **kw):
                tracer.count("canonicalize.star_rounds")
                return orig(*a, **kw)
            return w

        wrap(cc, "_large_star", counted_round)

    def uninstall(self) -> None:
        while self._undo:
            self._undo.pop()()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")
