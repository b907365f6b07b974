"""KG-construction benchmark.

    python3 perfbench/run.py --workload full_build --seed 1 --seconds 10 --trace 0

Runs one workload (see ``workloads.py``) from the repository root against
the ``kg`` package there, as a closed loop with one client on
``local[k]`` (k = min(4, usable cores), shuffle partitions = k).  Inputs
are generated from ``--seed``; every op's outputs are checked.  The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics of a separate traced pass with ``--trace 1``.  The line before it
is a summary: per-op wall seconds, their median ``op_p50_s`` with the
sample count, ``triples_per_s`` (sink triples ÷ ``op_p50_s``) and
``ops_failed_ratio``.

End-to-end metrics: ``setup_s`` (wall seconds from start to the first
timed op: imports, session start, input staging, untimed warm-up and
reference builds), ``op_cpu_s`` (median CPU seconds the driver process,
the JVM and its Python workers spend per op), ``peak_rss_mb`` (peak
resident memory of the JVM plus workers during timed ops, less the JVM's
fixed, pre-touched heap) and ``sink_mb`` (nodes + edges parquet).

Everything the run writes lives under ``.perfbench/`` in the repository
root and the scratch part is deleted on exit; span dumps of traced runs
are kept in ``.perfbench/traces/``.  On every way out, the JVM and its
Python workers are stopped and waited for before the run exits; a run
that cannot stop them exits 1 without a result line.

``--scale tiny`` shrinks every input to smoke-test size (see
``selftest.py``).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import itertools  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "2g"


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full")
    return p.parse_args(argv)


def _prepare_env(work: str) -> None:
    """Everything the JVM and its Python workers inherit: ``kg`` importable
    from any cwd, temp files and Spark scratch inside ``work``."""
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prev if prev else "")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    import tempfile

    tempfile.tempdir = tmp


def _session(work: str, cores: int):
    from kg.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        "perfbench",
        cores=cores,
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            # a fixed, pre-touched heap: the collector sizes a growing heap
            # from measured pause times, so its resident size would follow
            # host load.  peak_rss_mb leaves this constant out; heap use
            # within it shows as GC CPU in op_cpu_s and as the traced
            # session.heap_peak_mb
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                f"-Djava.io.tmpdir={tmp}",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        },
    )


def _gateway_process():
    """The JVM pyspark launched for this process, if it launched one."""
    pyspark = sys.modules.get("pyspark")
    gateway = pyspark and pyspark.SparkContext._gateway
    return getattr(gateway, "proc", None)


def _heap_pools(spark) -> list:
    mf = spark._jvm.java.lang.management.ManagementFactory
    return [p for p in mf.getMemoryPoolMXBeans()
            if p.getType().toString() == "Heap memory"]


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _layer_metrics(tracer, op_id: str, counts: dict) -> dict[str, float]:
    """Per-layer numbers of one traced op from its spans and counters."""
    spans = tracer.op_spans(op_id)
    root = next(s for s in spans if s["name"] == "op")
    ctr = root.get("counters", {})

    def dur(name):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    def jobs(name):
        return sum(s.get("jobs", 0) for s in spans if s["name"] == name)

    stages = ("extract", "link", "canonicalize", "materialize")
    busy = {s: dur(s) for s in stages}
    mentions_s = dur("write:mentions")
    lineage_s = sum(
        s["end"] - s["start"] for s in spans if s["name"].startswith("lineage.")
    )
    files_re = ctr.get("extract.files_in", 0)
    files_changed = counts["lineage.files_changed"]
    graph = ("degrees", "two_hop", "pagerank")
    return {
        "extract.busy_s": busy["extract"],
        "extract.files_in": files_re,
        "extract.triples_out": ctr.get("extract.triples_out", 0),
        "extract.jobs": jobs("extract"),
        "extract.tasks": sum(s.get("tasks", 0) for s in spans
                             if s["name"] == "extract"),
        "link.mentions_busy_s": mentions_s,
        "link.match_busy_s": busy["link"] - mentions_s,
        "link.jobs": jobs("link"),
        "canonicalize.busy_s": busy["canonicalize"],
        "canonicalize.star_rounds": ctr.get("canonicalize.star_rounds", 0),
        "materialize.busy_s": busy["materialize"],
        "materialize.jobs": jobs("materialize"),
        "lineage.busy_s": lineage_s,
        "lineage.fingerprint_busy_s": dur("lineage.changed_buckets"),
        "lineage.buckets_reextracted": ctr.get("extract.buckets", 0),
        "lineage.files_changed": files_changed,
        "lineage.files_reextracted": files_re,
        "lineage.rework_ratio": files_re / files_changed if files_changed else 0.0,
        "pipeline.other_s": dur("pipeline") - sum(busy.values()),
        **{f"graph.{g}_s": dur(f"graph.{g}") for g in graph},
        "graph.jobs": sum(jobs(f"graph.{g}") for g in graph),
        **counts,
    }


def _role(i: int, period: int) -> str:
    """Role of op ``i`` in a traced run.  Op 0 is one more untimed warm-up
    op.  Then, every ``2 * period`` ops, an untraced op and, ``period`` ops
    later, a traced op doing the same kind of work (incremental_update
    alternates A→B and B→A, so its period is 2); ops between are untimed.
    The tracing overhead is each traced op's wall minus its untraced
    partner's."""
    if i <= 0:
        return "warm"
    k = (i - 1) % (2 * period)
    return "plain" if k == 0 else "traced" if k == period else "warm"


def run(args) -> int:
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    # the program under test is the kg package of this checkout, nothing
    # else on the path: fail fast when it is not there
    sys.path.insert(0, ROOT)
    try:
        import kg.pipeline
    except ImportError as e:
        print(f"perfbench: cannot import kg from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(kg.pipeline.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: kg resolves outside {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import workloads as W
    from procfs import PeakRss, program_cpu_seconds, stop_run, tag_run
    from spans import Tracer

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r} "
              f"(known: {', '.join(W.WORKLOADS)})", file=sys.stderr)
        return 2
    os.makedirs(work, exist_ok=True)
    _prepare_env(work)
    run_entry = tag_run()
    stopped = False
    cores = max(1, min(4, len(os.sched_getaffinity(0))))
    wl = W.WORKLOADS[args.workload]()
    walls: list[float] = []
    cpus: list[float] = []
    traced_walls: list[float] = []
    plain_wall: dict[int, float] = {}
    overheads: list[float] = []
    heap_peaks: list[float] = []
    layer: list[dict] = []
    attempted = failed = 0
    spark = None
    tracer = None
    try:
        with PeakRss() as rss:
            t0 = time.perf_counter()
            spark = _session(work, cores)
            session_s = time.perf_counter() - t0
            heap_mb = spark._jvm.java.lang.management.ManagementFactory \
                .getMemoryMXBean().getHeapMemoryUsage().getCommitted() / 2**20
            ctx = W.Ctx(spark=spark, work=work, cores=cores, seed=args.seed,
                        sizes=W.SIZES[args.scale])
            wl.setup(ctx)
            t0 = time.perf_counter()
            try:
                wl.warmup(ctx)
            except Exception:
                traceback.print_exc()
                failed += 1
            attempted += 1
            warmup_s = time.perf_counter() - t0
            setup_s = time.perf_counter() - T_START
            if args.trace:
                tracer = Tracer(spark)

            t_loop = time.perf_counter()
            for i in itertools.count():
                role = _role(i, wl.period) if args.trace else "plain"
                elapsed = time.perf_counter() - t_loop
                # a traced run stops after a traced op
                if (elapsed >= args.seconds and i > 0
                        and (not args.trace or _role(i - 1, wl.period) == "traced")):
                    break
                attempted += 1
                op_id = f"op{i}"
                try:
                    if role == "traced":
                        tracer.install()
                        ctx.tracer = tracer
                        for p in _heap_pools(spark):
                            p.resetPeakUsage()
                    cpu0 = program_cpu_seconds(rss)
                    rss.active.set()
                    t0 = time.perf_counter()
                    if role == "traced":
                        with tracer.op(op_id):
                            wl.op(ctx, i)
                    else:
                        wl.op(ctx, i)
                    wall = time.perf_counter() - t0
                    rss.active.clear()
                    cpu = program_cpu_seconds(rss) - cpu0
                    wl.check(ctx, i)
                    if role == "plain":
                        walls.append(wall)
                        cpus.append(cpu)
                        plain_wall[i] = wall
                    elif role == "traced":
                        traced_walls.append(wall)
                        # summed per-pool peaks: an upper bound of the
                        # heap's peak use over the op
                        heap_peaks.append(sum(
                            p.getPeakUsage().getUsed() for p in _heap_pools(spark)
                        ) / 2**20)
                        if i - wl.period in plain_wall:
                            overheads.append(wall - plain_wall[i - wl.period])
                        with tracer.attach(op_id):
                            counts = wl.layer_counts(ctx)
                        layer.append(_layer_metrics(tracer, op_id, counts))
                except Exception:
                    rss.active.clear()
                    traceback.print_exc()
                    failed += 1
                finally:
                    if role == "traced":
                        tracer.uninstall()
                        ctx.tracer = None
                    wl.finish_op(ctx, i)
    finally:
        try:
            if tracer is not None and tracer.spans:
                tracer.dump(os.path.join(
                    ROOT, ".perfbench", "traces",
                    f"{args.workload}-seed{args.seed}.jsonl",
                ))
            if spark is not None:
                spark.stop()
        finally:
            # a SIGTERM now waits until every process of the run has ended
            signal.pthread_sigmask(signal.SIG_BLOCK, {signal.SIGTERM})
            stopped = stop_run(_gateway_process(), run_entry)
            shutil.rmtree(work, ignore_errors=True)
            signal.pthread_sigmask(signal.SIG_UNBLOCK, {signal.SIGTERM})
    if not stopped:
        print("perfbench: processes of the run still alive after stop",
              file=sys.stderr)
        return 1

    op_p50 = _median(walls)
    n = len(walls)
    summary = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "ops": n, "op_s": [round(w, 4) for w in walls],
        "op_cpu_s": [round(c, 2) for c in cpus],
        "ops_failed_ratio": failed / attempted,
    }
    if args.trace:
        keys = layer[0].keys() if layer else ()
        metrics = {k: _median([m[k] for m in layer]) for k in keys}
        metrics["session.start_s"] = session_s
        metrics["session.warmup_s"] = warmup_s
        metrics["trace.overhead_s"] = _median(overheads)
        metrics["session.heap_peak_mb"] = _median(heap_peaks)
        summary["traced_op_s"] = [round(w, 4) for w in traced_walls]
        total = _median(traced_walls)
        summary["busy_share_of_traced_op"] = {
            k: round(metrics[k] / total, 3)
            for k in _SHARES if total and k in metrics
        }
    else:
        sink = wl.last_sink
        triples, sink_bytes = (sink.triples, sink.bytes) if sink else (0, 0)
        # wall-clock op figures are printed, not bounded: CPU time stolen
        # by other tenants of the host swings them far more than any bound
        # allows, while the CPU seconds the program burns per op hold
        summary["samples"] = n
        summary["op_p50_s"] = op_p50
        summary["triples_per_s"] = triples / op_p50 if op_p50 else 0.0
        metrics = {
            "setup_s": setup_s,
            "op_cpu_s": _median(cpus),
            "peak_rss_mb": rss.peak_mb - heap_mb,
            "sink_mb": sink_bytes / 2**20,
        }
    print(json.dumps(summary), flush=True)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": v, "unit": _unit(k)}
            for k, v in metrics.items()
        },
    }
    print(json.dumps(result), flush=True)
    return 0


_UNITS = {
    "setup_s": "s", "op_cpu_s": "s",
    "peak_rss_mb": "MB", "sink_mb": "MB", "session.heap_peak_mb": "MB",
    "link.match_ratio": "ratio",
    "lineage.rework_ratio": "ratio", "materialize.bytes_written": "bytes",
}


_SHARES = (
    "extract.busy_s", "link.mentions_busy_s", "link.match_busy_s",
    "canonicalize.busy_s", "materialize.busy_s", "lineage.busy_s",
    "pipeline.other_s", "graph.degrees_s", "graph.two_hop_s",
    "graph.pagerank_s",
)


def _unit(name: str) -> str:
    if name in _UNITS:
        return _UNITS[name]
    return "s" if name.endswith("_s") else "count"


if __name__ == "__main__":
    # a terminated run still stops Spark and deletes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(run(_parse(sys.argv[1:])))
