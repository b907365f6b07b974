"""The benchmark workloads: set-up, one timed op, and the output check.

Each workload is a closed loop with one client: the next op starts when
the previous one (and its untimed check) has finished.  An op that raises
or fails its check counts as failed.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
from contextlib import nullcontext
from dataclasses import dataclass, field
from itertools import combinations

import pyarrow.dataset as ds
import pyarrow.parquet as pq

import corpus
from spans import Tracer

# inputs per scale: "full" is what the benchmark measures, "tiny" is the
# self-test's smoke size
SIZES = {
    "full": {
        "build_files": 600, "entity_clusters": 1000, "imports_per_file": 30,
        "update_files": 1000, "edit_fraction": 0.01, "check_sample": 25,
    },
    "tiny": {
        "build_files": 40, "entity_clusters": 40, "imports_per_file": 10,
        "update_files": 60, "edit_fraction": 0.05, "check_sample": 5,
    },
}
MIN_PR = 0.95  # planted-cluster link precision and recall floor


class CheckFailed(Exception):
    pass


@dataclass
class Ctx:
    spark: object
    work: str
    cores: int
    seed: int
    sizes: dict
    tracer: Tracer | None = None
    _n: int = 0

    def fresh_dir(self, name: str) -> str:
        self._n += 1
        path = os.path.join(self.work, f"{name}-{self._n}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def config(self, warehouse: str):
        from kg.conf import PipelineConfig

        return PipelineConfig(
            warehouse=warehouse,
            shuffle_partitions=self.cores,
            extract_engine="arrow",
            partition_key="repo",
        )

    def span(self, name: str, jobs: bool = False):
        return self.tracer.span(name, jobs=jobs) if self.tracer else nullcontext()


# -- sink readers (driver-side pyarrow: no Spark jobs, so checks do not
# -- disturb the session between timed ops) ----------------------------------


def _parquet_files(path: str) -> list[str]:
    return glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)


def table_rows(path: str) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows for f in _parquet_files(path))


def table_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in _parquet_files(path))


def read_columns(path: str, columns: list[str]):
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=columns
    )


def id_fingerprint(path: str) -> tuple[int, str]:
    ids = sorted(read_columns(path, ["id"]).column("id").to_pylist())
    return len(ids), hashlib.sha256("\n".join(ids).encode()).hexdigest()


@dataclass
class SinkStats:
    triples: int
    nodes: int
    edges: int
    files: int
    bytes: int


def sink_stats(warehouse: str) -> SinkStats:
    nodes, edges = (os.path.join(warehouse, t) for t in ("nodes", "edges"))
    return SinkStats(
        triples=table_rows(os.path.join(warehouse, "triples")),
        nodes=table_rows(nodes),
        edges=table_rows(edges),
        files=len(_parquet_files(nodes)) + len(_parquet_files(edges)),
        bytes=table_bytes(nodes) + table_bytes(edges),
    )


# -- graph queries over a sink ---------------------------------------------


def graph_queries(ctx: Ctx, warehouse: str) -> dict[str, tuple[int, int]]:
    """degrees, typed two_hop (defines-class → extends) and 3-round
    pagerank over the sink's edges into the noop sink.  Row count and an
    order-insensitive checksum ride along as observed metrics of the same
    action, so the check costs no second pass."""
    from pyspark.sql import Observation, functions as F

    from kg.ops.graph import degrees, pagerank, two_hop

    spark = ctx.spark
    edges = spark.read.parquet(os.path.join(warehouse, "edges")).drop("pk_bucket")
    queries = (
        ("degrees", lambda e: degrees(e)),
        ("two_hop", lambda e: two_hop(
            e, label_col="label", first_label="defines-class",
            second_label="extends",
        )),
        ("pagerank", lambda e: pagerank(e, iters=3)),
    )
    out = {}
    for name, query in queries:
        obs = Observation(name)
        with ctx.span("graph." + name, jobs=True):
            df = query(edges)
            df = df.observe(
                obs,
                F.count(F.lit(1)).alias("rows"),
                F.coalesce(
                    F.bit_xor(F.xxhash64(*df.columns)), F.lit(0)
                ).alias("checksum"),
            )
            df.write.format("noop").mode("overwrite").save()
            got = obs.get
        out[name] = (got["rows"], got["checksum"])
    # CacheManager dedups by canonical plan: the next op must recompute
    spark.catalog.clearCache()
    return out


# -- workloads ----------------------------------------------------------------


class Workload:
    name = ""
    # ops between two that do the same kind of work
    period = 1
    # sink of the last op that passed its check: its triple count and bytes
    # are the run's triples_per_s and sink_mb
    last_sink: SinkStats | None = None

    def setup(self, ctx: Ctx) -> None:
        """Stage inputs and build what the timed ops need (untimed)."""

    def warmup(self, ctx: Ctx) -> None:
        """Untimed warm-up op(s), charged to set-up."""

    def op(self, ctx: Ctx, i: int) -> None:
        """The timed op."""

    def check(self, ctx: Ctx, i: int) -> None:
        """Raise CheckFailed if the op's outputs are wrong (untimed)."""

    def finish_op(self, ctx: Ctx, i: int) -> None:
        """Release what the op left behind (untimed)."""

    def layer_counts(self, ctx: Ctx) -> dict[str, float]:
        """Per-layer counts read after a traced op, before finish_op."""
        return {}


@dataclass
class FullBuild(Workload):
    """A fresh-warehouse ``run_pipeline(restart=True)`` of a kg.datagen
    corpus plus planted-entity import files (an open vocabulary)."""

    name: str = "full_build"
    warehouse: str | None = None
    expected_sha: dict = field(default_factory=dict)
    sample: dict = field(default_factory=dict)
    cluster_of: dict = field(default_factory=dict)
    n_files: int = 0

    def setup(self, ctx: Ctx) -> None:
        z = ctx.sizes
        rows = corpus.datagen_rows(ctx.seed, z["build_files"])
        clusters = corpus.entity_clusters(ctx.seed, z["entity_clusters"])
        rows += corpus.entity_rows(ctx.seed, clusters, z["imports_per_file"])
        self.n_files = len(rows)
        self.expected_sha = {
            (r["repo"], r["path"]): corpus.sha256_hex(r["content"]) for r in rows
        }
        self.sample = corpus.expected_sample(
            ctx.seed, z["build_files"], z["check_sample"]
        )
        self.cluster_of = {s: c for c, ss in enumerate(clusters) for s in ss}
        path = os.path.join(ctx.work, "source.parquet")
        corpus.write_source(rows, path)
        self.source = ctx.spark.read.parquet(path)

    def warmup(self, ctx: Ctx) -> None:
        """One checked build: the cold one (about twice a warm op)."""
        self.op(ctx, -1)
        self.check(ctx, -1)
        self.finish_op(ctx, -1)

    def op(self, ctx: Ctx, i: int) -> None:
        from kg.pipeline import run_pipeline

        self.warehouse = ctx.fresh_dir("build")
        with ctx.span("pipeline"):
            run_pipeline(ctx.spark, self.source, ctx.config(self.warehouse),
                         restart=True)

    def check(self, ctx: Ctx, i: int) -> None:
        wh = self.warehouse
        t = read_columns(os.path.join(wh, "triples"), [
            "subj", "pred", "obj", "repo", "path", "commit", "lang",
            "content_sha",
        ]).to_pylist()
        shas = {(r["repo"], r["path"]): r["content_sha"] for r in t}
        if shas != self.expected_sha:
            bad = sum(shas.get(k) != v for k, v in self.expected_sha.items())
            raise CheckFailed(f"content_sha mismatch on {bad} files")
        got: dict[tuple, set] = {k: set() for k in self.sample}
        for r in t:
            k = (r["repo"], r["path"])
            if k in got:
                got[k].add(corpus.triple_key(r))
        if got != self.sample:
            raise CheckFailed("sampled triples differ from kg.datagen goldens")
        p, r = self._link_pr(wh)
        if p < MIN_PR or r < MIN_PR:
            raise CheckFailed(f"planted-cluster links P={p:.3f} R={r:.3f}")
        self.last_sink = sink_stats(wh)

    def _link_pr(self, wh: str) -> tuple[float, float]:
        """Pairwise precision/recall of the entity map over planted
        surfaces: a pair is predicted when both surfaces share a canonical
        id, true when both come from one planted cluster."""
        m = read_columns(os.path.join(wh, "mentions"),
                         ["mention_id", "surface", "kind"]).to_pylist()
        e = read_columns(os.path.join(wh, "entity_map"),
                         ["mention_id", "canonical_id"]).to_pylist()
        canon = {r["mention_id"]: r["canonical_id"] for r in e}
        planted = {
            r["surface"]: canon.get(r["mention_id"])
            for r in m if r["kind"] == "module" and r["surface"] in self.cluster_of
        }
        if len(planted) != len(self.cluster_of):
            return 0.0, 0.0
        by_canon: dict[str, list[str]] = {}
        for s, c in planted.items():
            by_canon.setdefault(c, []).append(s)
        pred = {frozenset(p) for g in by_canon.values() for p in combinations(g, 2)}
        by_cluster: dict[int, list[str]] = {}
        for s, c in self.cluster_of.items():
            by_cluster.setdefault(c, []).append(s)
        true = {frozenset(p) for g in by_cluster.values() for p in combinations(g, 2)}
        hit = len(pred & true)
        return (hit / len(pred) if pred else 0.0), hit / len(true)

    def finish_op(self, ctx: Ctx, i: int) -> None:
        shutil.rmtree(self.warehouse, ignore_errors=True)

    def layer_counts(self, ctx: Ctx) -> dict[str, float]:
        out = _link_counts(ctx, self.warehouse)
        out["lineage.files_changed"] = self.n_files
        # consumers of the fresh sink (spans only; outside the op wall)
        graph_queries(ctx, self.warehouse)
        return out


@dataclass
class IncrementalUpdate(Workload):
    """Switch the source between snapshots A and B (B = A with ~1% of files
    edited) and rerun ``run_pipeline(detect_changes=True)`` over the same
    warehouse, then query the updated sink."""

    name: str = "incremental_update"
    period = 2  # ops alternate A→B and B→A
    warehouse: str | None = None
    n_changed: int = 0
    snapshots: dict = field(default_factory=dict)
    ref_ids: dict = field(default_factory=dict)
    ref_queries: dict = field(default_factory=dict)
    current: str = "A"
    queries: dict | None = None

    def setup(self, ctx: Ctx) -> None:
        z = ctx.sizes
        rows_a = corpus.datagen_rows(ctx.seed, z["update_files"])
        rows_b, self.n_changed = corpus.edit_snapshot(
            rows_a, ctx.seed, z["edit_fraction"]
        )
        for snap, rows in (("A", rows_a), ("B", rows_b)):
            path = os.path.join(ctx.work, f"snapshot-{snap}.parquet")
            corpus.write_source(rows, path)
            self.snapshots[snap] = ctx.spark.read.parquet(path)

    def warmup(self, ctx: Ctx) -> None:
        """From-scratch references, which also warm the session up: B's
        ids and query results in a scratch warehouse, then A's in the
        warehouse the ops update.  The first op switches to B."""
        from kg.pipeline import run_pipeline

        for snap in ("B", "A"):
            wh = ctx.fresh_dir(f"ref{snap}")
            run_pipeline(ctx.spark, self.snapshots[snap], ctx.config(wh),
                         restart=True, detect_changes=True)
            self.ref_ids[snap] = self._ids(wh)
            self.ref_queries[snap] = graph_queries(ctx, wh)
            if snap == "B":
                shutil.rmtree(wh, ignore_errors=True)
        self.warehouse = wh
        self.current = "A"
        self.last_sink = sink_stats(wh)

    @staticmethod
    def _ids(wh: str) -> tuple:
        return (id_fingerprint(os.path.join(wh, "nodes")),
                id_fingerprint(os.path.join(wh, "edges")))

    def op(self, ctx: Ctx, i: int) -> None:
        from kg.pipeline import run_pipeline

        self.current = "B" if self.current == "A" else "A"
        self.queries = None
        with ctx.span("pipeline"):
            run_pipeline(ctx.spark, self.snapshots[self.current],
                         ctx.config(self.warehouse), detect_changes=True)
        self.queries = graph_queries(ctx, self.warehouse)

    def check(self, ctx: Ctx, i: int) -> None:
        if self._ids(self.warehouse) != self.ref_ids[self.current]:
            raise CheckFailed(
                f"node/edge ids differ from a from-scratch build of "
                f"snapshot {self.current}"
            )
        ref = self.ref_queries[self.current]
        if self.queries != ref:
            raise CheckFailed(
                f"graph query rows/checksums changed: {self.queries} vs "
                f"{ref}"
            )
        self.last_sink = sink_stats(self.warehouse)

    def layer_counts(self, ctx: Ctx) -> dict[str, float]:
        out = _link_counts(ctx, self.warehouse)
        out["lineage.files_changed"] = self.n_changed
        return out


def _link_counts(ctx: Ctx, wh: str) -> dict[str, float]:
    """Link/canonicalize/materialize counts of the sink a traced op left.
    The candidate-pair count reruns the LSH blocking outside every span
    (the pipeline filters candidates without counting them)."""
    from kg.link import add_shingles, candidate_pairs

    cfg = ctx.config(wh)
    mentions = add_shingles(ctx.spark.read.parquet(cfg.table_path("mentions")), cfg)
    candidates = candidate_pairs(mentions, cfg).count()
    matches = table_rows(cfg.table_path("matches"))
    emap = read_columns(cfg.table_path("entity_map"), ["canonical_id"])
    sink = sink_stats(wh)
    return {
        "link.candidate_pairs": candidates,
        "link.matches": matches,
        "link.match_ratio": matches / candidates if candidates else 0.0,
        "canonicalize.match_edges": matches,
        "canonicalize.entities": len(set(emap.column("canonical_id").to_pylist())),
        "materialize.nodes": sink.nodes,
        "materialize.edges": sink.edges,
        "materialize.files_written": sink.files,
        "materialize.bytes_written": sink.bytes,
    }


WORKLOADS = {w.name: w for w in (FullBuild, IncrementalUpdate)}
