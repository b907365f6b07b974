"""Pipeline orchestration: extract → link → canonicalize → materialize.

The reference's lifecycle (``Migrator.MigrateAsync``: counts → bounds →
sink DDL → vertices → edges, ``Migrator.cs:31-48``) becomes Spark stages
(after an optional clean stage), each resumable through the lineage table
in one of two shapes:

  * bucketed (``_bucketed_stage``: clean_exact, extract, materialize) —
    the corpus-sized stages.  Work buckets are ``pmod(xxhash64(keys), B)``
    and a rerun processes only the buckets not recorded done, mirroring
    the reference's page high-water-mark (``Migrator.cs:80-81``).  A
    stage may write several tables, one lineage stage each: materialize
    writes nodes AND edges concurrently (the reference's per-page
    checkpoints for both element kinds, ``Migrator.cs:80-81,129-130``).
    A bucket is pending unless it is recorded done AND its table exists,
    so a lost table is rebuilt, and every pending bucket is recorded,
    so a bucket with no source rows or no output still completes;
    output row counts come from parquet footers.  An output's rows are
    a Spark DataFrame, written by one partitioned Spark write, or an
    Arrow table, written one parquet file per bucket by the driver:
    materialize chooses, in its own module, between a driver path for
    a ``triples`` table within the driver budget and its Spark plan
    above it (``kg.materialize.materialize_tables``), with the same rows
    in the same ``pk_bucket`` layout either way.
  * atomic (``_atomic_stage``: clean_minhash, link, canonicalize) —
    inputs are vocabulary- or output-sized, or (near-dup pairs) cross
    buckets by construction.  The stage is skipped only when it is
    recorded done and its outputs exist; otherwise its whole output is
    rebuilt and overwritten.  Link and canonicalize each choose, in
    their own module, between a driver path for a vocabulary-sized input
    and Spark jobs above it (``kg.link.match_pairs``,
    ``kg.canonicalize.cc.connected_components``); both paths write the
    same rows.

Bucketed stages order a write as: data durable → downstream lineage
dropped → buckets recorded done.  Atomic stages drop their own and their
downstream lineage FIRST, then delete their outputs, rebuild and record
themselves done, so a crash mid-rebuild never leaves a half-written
output under a ``done`` row.  A crash between two steps leaves the stage
or its downstream unrecorded, and the rerun redoes it, never a stage
done over stale output.  So a changed-input rerun converges to the state
of a clean run — the Spark mapping of the reference's ``enableUpsert:
true`` semantics for *modified* documents (``CosmosDb.cs:144``).

Changed-input detection (``detect_changes=True``): a stage records an
order-insensitive fingerprint of its input rows (per bucket, or per stage
for clean_minhash); a rerun compares current fingerprints against recorded
ones and redoes only what changed.  Off by default because it costs one
full JVM-side hash scan of the source content — and the fingerprint is
also only RECORDED when on, so the default path's lineage agg stays a
narrow (repo, path) scan that parquet column pruning answers without
touching content bytes (records without a fingerprint are conservatively
treated as changed by a later detect_changes run).  At real scale you
would fingerprint commit metadata instead of content bytes.  Deleted
files are out of scope (the reference's upsert cannot delete either).

Skew: the hot-repo problem (one repo = ~30% of rows) is defeated *before*
the first wide transform by keying work buckets on (repo, path) — path
salts the hot repo; downstream joins key on sha256 ids (uniform) —
SURVEY.md §4 watch list.
"""

from __future__ import annotations

import functools
import glob
import os
import shutil
import uuid
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import (
    Column,
    DataFrame,
    SparkSession,
    Window as W,
    functions as F,
    types as T,
)

from kg.canonicalize import run_canonicalize
from kg.conf import PipelineConfig
from kg.extract import run_extract
from kg.lineage import LineageStore, StageTimer, bucket_col
from kg.link import add_shingles, match_pairs, mentions_from_triples
from kg.log import log_event
from kg.materialize import materialize_tables
from kg.schemas import EDGES, ENTITY_MAP, MENTIONS, NODES, SCORED_PAIRS, TRIPLES

STAGES = ("clean", "extract", "link", "canonicalize", "materialize")
# every table a stage writes (--restart truncates them all)
_TABLES = (
    "clean", "triples", "mentions", "matches", "entity_map", "nodes", "edges"
)
# lineage stages in dependency order
_LINEAGE_ORDER = (
    "extract", "link", "canonicalize", "materialize_nodes", "materialize_edges"
)


def _downstream(stage: str) -> tuple[str, ...]:
    """Lineage stages whose input ``stage`` writes (clean feeds them all)."""
    if stage not in _LINEAGE_ORDER:
        return _LINEAGE_ORDER
    return _LINEAGE_ORDER[_LINEAGE_ORDER.index(stage) + 1:]


def _fingerprint(*cols: str) -> Column:
    """Order-insensitive content fingerprint: ``count:bit_xor(xxhash64)``.

    XOR is overflow-free at ANY row count — the previous sum-of-bounded-
    hashes faulted under ANSI mode past ~9.2e9 rows/bucket, reachable at
    the documented 10^12-doc scale with 64 buckets (ADVICE r2).  The
    count term disambiguates the one blind spot XOR alone has that a sum
    does not: duplicate-row multiplicity changes that cancel pairwise."""
    h = F.xxhash64(*cols)
    return F.concat_ws(
        ":", F.count(F.lit(1)).cast("string"), F.bit_xor(h).cast("string")
    )


def _footer_stats(path: str, col: str, rows: list[dict]) -> int:
    """Lineage rows for just-written buckets: each of ``rows`` (bucket,
    rows_in[, input_fp]) gains ``rows_out``, read from the parquet
    FOOTERS of its bucket dir.  Returns the number of files read.

    O(buckets) metadata reads and no Spark job: ``_write`` lands each
    bucket in one task, so a bucket dir holds one file whatever the data
    size (an Iceberg sink would read manifest counts the same way).  An
    absent dir counts 0 — a bucket whose recomputation yields nothing is
    still recorded done, or it would be redone forever.  No output
    fingerprint: the output is a deterministic recomputation of the
    input, and invalidation rides on the input fingerprint alone.  Local
    paths only (``PipelineConfig`` rejects ``scheme://`` warehouses)."""
    files = 0
    for r in rows:
        bucket_dir = os.path.join(path, f"{col}={r['bucket']}")
        parts = glob.glob(os.path.join(bucket_dir, "*.parquet"))
        r["rows_out"] = sum(pq.ParquetFile(f).metadata.num_rows for f in parts)
        files += len(parts)
    return files


def _read(
    spark: SparkSession, path: str, schema: T.StructType,
    bucket: str | None = None,
) -> DataFrame:
    """A table the pipeline wrote, read with its declared ``schema`` (its
    ``bucket`` partition column dropped): inferring the schema would run
    a one-task Spark job on every read."""
    if bucket is None:
        return spark.read.schema(schema).parquet(path)
    schema = T.StructType([*schema, T.StructField(bucket, T.IntegerType())])
    return spark.read.schema(schema).parquet(path).drop(bucket)


def _only(df: DataFrame, col: str, buckets: set[int], n: int) -> DataFrame:
    """``df`` restricted to ``buckets`` of ``col`` (as is when that is all
    ``n``)."""
    if len(buckets) == n:
        return df
    # an array literal, which generated code reads by reference: an
    # isin (In, or InSet above 10 values) is compiled with its values
    # inlined, so each distinct pending set compiled new classes
    return df.filter(F.array_contains(F.lit(sorted(buckets)), F.col(col)))


def _write(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    buckets: int = 64,
) -> None:
    w = df.write.mode("overwrite")
    if partition_by:
        # co-locate each output partition in one task first: without this,
        # every task writes a file into every partition dir (tasks ×
        # buckets small files — the classic partitioned-write explosion).
        # Width = min(buckets, session shuffle width): hashing the bucket
        # column into N ≤ buckets tasks still lands ALL of a bucket's rows
        # in one task (one file per bucket dir, footer stats stay
        # O(buckets)), but stops scheduling 64 near-empty write tasks per
        # element kind when the instance only has a few cores — at
        # shuffle_partitions=2 that was ~190 no-op task launches per run,
        # a measured slice of the per-instance floor the 4-instance fleet
        # pays 4× (BENCH/BASELINE.md r4).  More tasks than cores buys
        # nothing here: write throughput is bounded by cores and the
        # per-bucket file layout is identical either way.
        width = min(
            buckets,
            int(df.sparkSession.conf.get("spark.sql.shuffle.partitions")),
        )
        df = df.repartition(width, *[F.col(c) for c in partition_by])
        w = df.write.mode("overwrite").partitionBy(*partition_by).option(
            "partitionOverwriteMode", "dynamic"
        )
    w.parquet(path)


def _write_arrow(table: pa.Table, path: str, col: str, buckets: set[int]):
    """``_write`` of an Arrow table into the ``buckets`` partitions of
    ``path``: one Spark-named zstd file per bucket with rows, written
    under a hidden temp name and renamed into place, so a reader (or a
    crash) never sees half a file.  Without dictionary encoding or
    min/max statistics: a file is one row group of one bucket, pruned by
    its directory, and the statistics (64-character hash ids among them,
    repeated in each page header and the footer) were ~15% of the bytes
    and prune nothing the engine filters on.  Seed-7 materialize tables
    of the benchmark's two corpora (nodes, edges; KB): Spark's writer
    392, 991 and 365, 1003; pyarrow with dictionaries and statistics
    384, 1014 and 356, 1032; without either 319, 831 and 293, 877."""
    os.makedirs(path, exist_ok=True)
    keys = table[col]
    table = table.drop_columns([col])
    for b in sorted(buckets):
        part = table.filter(pc.equal(keys, b))
        if not part.num_rows:
            continue
        name = f"part-00000-{uuid.uuid4()}-c000.zstd.parquet"
        tmp = os.path.join(path, f"{col}={b}", f".{name}.tmp")
        os.makedirs(os.path.dirname(tmp), exist_ok=True)
        pq.write_table(
            part, tmp, compression="zstd", compression_level=3,
            use_dictionary=False, write_statistics=False,
            store_schema=False,
        )
        os.replace(tmp, os.path.join(os.path.dirname(tmp), name))


def _write_buckets(
    df: DataFrame | pa.Table, path: str, col: str, buckets: set[int], n: int
) -> None:
    """Overwrite the ``buckets`` partitions of ``path`` with ``df``'s rows
    in them: a Spark DataFrame through ``_write``, an Arrow table (a
    driver-computed output) through ``_write_arrow``.  Their dirs are
    cleared first: dynamic partition overwrite replaces only partitions
    PRESENT in the new output, so a bucket whose recomputation is now
    empty would keep its stale files (and lineage would count them as
    current).  A crash between clear and write leaves the bucket absent
    and unrecorded, so the next run rewrites it."""
    for b in buckets:
        shutil.rmtree(os.path.join(path, f"{col}={b}"), ignore_errors=True)
    if isinstance(df, pa.Table):
        _write_arrow(df, path, col, buckets)
    else:
        _write(_only(df, col, buckets, n), path, [col], buckets=n)


# one table a bucketed stage writes: (lineage stage, path, bucket column,
# frame), where ``frame(pending)`` returns its rows for the pending buckets
_Output = tuple[str, str, str, Callable[[set[int]], DataFrame | pa.Table]]

# ``_fingerprint`` over no rows: recorded for a pending bucket without
# source rows, so a file added to it later reads as a change
_EMPTY_FP = "0"


def _bucketed_stage(
    lineage: LineageStore,
    event: str,
    outputs: list[_Output],
    n: int,
    src: DataFrame | None = None,
    detect_changes: bool = False,
) -> None:
    """Bucket-level resume of a corpus-sized stage (module docstring).

    A bucket of an output is pending unless it is recorded done AND the
    output table exists (rows of a lost table are dropped first); the
    stage is skipped iff no output has a pending bucket.  Each output's
    pending buckets are cleared and rewritten from ``frame(pending)``
    (called on the calling thread, only for an output with pending
    buckets; ``_write_buckets`` filters it to them), the first output's
    write on the calling thread and the rest on a pool.  Then lineage
    downstream of the last output is dropped and EVERY pending bucket of
    every output is recorded done, ``rows_out`` from the parquet
    footers; ``stage_done`` carries the number of those files
    (``files_written``).

    ``src`` is the bucketed source of a one-output stage, bucketed on the
    output's column.  It adds a stats job, run on the pool beside the
    write, that records ``rows_in`` (0 for a pending bucket without
    source rows).  Under ``detect_changes`` done buckets whose recorded
    input fingerprint differs from the current one are redone, and
    fingerprints are recorded; off, the stats stay a narrow (repo, path)
    scan.  Without ``src``, ``rows_in`` is -1."""
    done = []
    for stage, path, _, _ in outputs:
        if not os.path.exists(path):
            lineage.invalidate_stages(stage)
        done.append(lineage.completed_buckets(stage))
    stage, _, col, _ = outputs[0]
    if src is not None and detect_changes and done[0]:
        changed = lineage.changed_buckets(
            stage,
            src.groupBy(F.col(col).alias("bucket")).agg(
                _fingerprint("repo", "path", "content").alias("cur_fp")
            ),
        )
        if changed:
            lineage.invalidate_buckets(stage, changed)
            done[0] -= changed
            log_event("changed_buckets_invalidated", stage=stage,
                      buckets=sorted(changed))
    pending = [set(range(n)) - d for d in done]
    if not any(pending):
        log_event("stage_skipped", stage=event)
        return
    log_event("stage_start", stage=event, pending_buckets={
        o[0]: len(p) for o, p in zip(outputs, pending)
    })
    stats = [F.count("*").alias("rows_in")]
    if detect_changes:
        stats.append(_fingerprint("repo", "path", "content").alias("input_fp"))
    counted = {}
    with (
        StageTimer(lineage.spark) as t,
        ThreadPoolExecutor(len(outputs)) as pool,
    ):
        # the stats job reads only the source, and the outputs share no
        # computation: running them concurrently fills one job's barrier
        # and commit-tail gaps with another's tasks
        if src is not None:
            stats_job = pool.submit(
                _only(src, col, pending[0], n)
                .groupBy(F.col(col).alias("bucket")).agg(*stats).collect
            )
        writes = [
            (frame(p), path, c, p)
            for (_, path, c, frame), p in zip(outputs, pending) if p
        ]
        futs = [pool.submit(_write_buckets, *w, n) for w in writes[1:]]
        _write_buckets(*writes[0], n)
        for f in futs:
            f.result()
        if src is not None:
            counted = {r["bucket"]: r.asDict() for r in stats_job.result()}
    lineage.invalidate_stages(*_downstream(outputs[-1][0]))
    blank = {
        "rows_in": -1 if src is None else 0,
        "input_fp": _EMPTY_FP if detect_changes else None,
    }
    files = 0
    for (stage, path, c, _), p in zip(outputs, pending):
        if p:
            rows = [counted.get(b, {"bucket": b, **blank}) for b in sorted(p)]
            files += _footer_stats(path, c, rows)
            lineage.record_buckets(stage, rows, t.ms)
    log_event("stage_done", stage=event, duration_ms=t.ms,
              codegen_compiles=t.compiles, files_written=files)


def _atomic_stage(
    lineage: LineageStore,
    stage: str,
    outputs: tuple[str, ...],
    build: Callable[[], None],
    input_fp: str | None = None,
) -> None:
    """Stage-level resume (module docstring).  Skipped only when recorded
    done with every output present and, when ``input_fp`` is given (under
    detect_changes), recorded with that input fingerprint.  Otherwise the
    stage's own and downstream lineage is dropped first, so a crash
    mid-rebuild leaves it unrecorded; then the outputs are deleted and
    ``build`` writes them whole — a partitioned dynamic overwrite alone
    would keep partitions the new output lacks.  Staleness needs no check
    of its own: an upstream stage that wrote new output has already
    dropped this stage's lineage."""
    if lineage.stage_done(stage) and all(map(os.path.exists, outputs)):
        if input_fp is None or lineage.stage_input_fp(stage) == input_fp:
            log_event("stage_skipped", stage=stage)
            return
        log_event("changed_input_invalidated", stage=stage)
    log_event("stage_start", stage=stage)
    lineage.invalidate_stages(stage, *_downstream(stage))
    with StageTimer(lineage.spark) as t:
        for p in outputs:
            shutil.rmtree(p, ignore_errors=True)
        build()
    lineage.record_stage(stage, -1, -1, t.ms, input_fp=input_fp)
    log_event("stage_done", stage=stage, duration_ms=t.ms,
              codegen_compiles=t.compiles)


def _dedup_exact_keep_first(df: DataFrame) -> DataFrame:
    """One row per distinct content; the (repo, path)-minimal copy wins.
    A distributed ``dropDuplicates`` keeps whichever copy wins the
    reduction — partition-order-dependent, so reruns/resumes would not
    be idempotent.  Keyed on sha2(content) so the shuffle hash is over
    64-char keys; the surviving rows moving once is the cost any
    corpus dedup pays."""
    w = W.partitionBy(F.sha2(F.col("content"), 256)).orderBy("repo", "path")
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _near_dup_drop_ids(pairs: DataFrame) -> DataFrame:
    """Cluster-consistent near-dup victims (VERDICT r4 #4): connected
    components over the dup-pair graph ``(a, b)``, every member except
    the lexicographic-min one per cluster is dropped.

    The previous greedy pair-side drop (drop every ``b``) kept BOTH
    outer endpoints of star shapes like (a,c),(b,c) — a and b are
    near-dups of the same doc yet both survived.  CC closes the
    transitive hull, so each near-dup cluster keeps exactly one member:
    its min id (ids here are ``repo\\x01path``, so min == min (repo,
    path)).  The match graph is pair-sized (≪ corpus);
    ``connected_components`` picks driver union-find or the star loop
    on evidence (kg/canonicalize/cc.py)."""
    from kg.canonicalize.cc import connected_components

    comp = connected_components(pairs.select("a", "b"))
    return comp.filter(
        F.col("mention_id") != F.col("canonical_id")
    ).select(F.col("mention_id").alias("_fid"))


def _run_clean(
    spark: SparkSession,
    source_files: DataFrame,
    cfg: PipelineConfig,
    lineage: LineageStore,
    dedup: str,
    threshold: float,
    detect_changes: bool = False,
) -> DataFrame:
    """Optional ``clean`` stage between source and extract: drop exact
    duplicates (crawler re-fetches, vendored copies) and, in ``minhash``
    mode, near-duplicates (MinHash-LSH pairs with Jaccard ≥ threshold,
    hulled into duplicate CLUSTERS via connected components — one keeper,
    the min (repo, path), survives per cluster, so a dup chain a–b–c
    keeps exactly {a}; see ``_near_dup_drop_ids``).

    ``exact`` is a bucketed stage keyed on ``xxhash64(content)``: ALL
    copies of identical content land in one bucket, so per-bucket dedup
    IS global dedup.  ``minhash`` is atomic: near-dup pairs cross content
    buckets by construction (LSH bands key on shingle minima, not raw
    content).  ``detect_changes`` governs both modes as it does extract,
    so one switch sets the whole pipeline's changed-input behavior."""
    if dedup not in ("exact", "minhash"):
        raise ValueError(f"dedup must be 'exact' or 'minhash', got {dedup!r}")
    b = cfg.lineage_buckets
    clean_path = cfg.table_path("clean")
    src = source_files.withColumn(
        "cbucket", bucket_col("content", n_buckets=b)
    )
    if dedup == "exact":
        _bucketed_stage(
            lineage, "clean_exact",
            [("clean_exact", clean_path, "cbucket", lambda p:
              _dedup_exact_keep_first(_only(src, "cbucket", p, b)))],
            b, src, detect_changes,
        )
    else:
        from kg.ops.dedup import minhash_duplicates

        def near_dedup():
            kept = _dedup_exact_keep_first(src).withColumn(
                "_fid", F.concat_ws("\x01", "repo", "path")
            )
            pairs = minhash_duplicates(
                kept, "_fid", "content", threshold=threshold
            )
            kept = kept.join(_near_dup_drop_ids(pairs), "_fid", "left_anti")
            _write(kept.drop("_fid"), clean_path, ["cbucket"], buckets=b)

        input_fp = None
        if detect_changes:
            input_fp = src.agg(
                _fingerprint("repo", "path", "content").alias("fp")
            ).first()["fp"]
        _atomic_stage(
            lineage, "clean_minhash", (clean_path,), near_dedup, input_fp
        )
    return _read(spark, clean_path, source_files.schema, "cbucket")


def run_pipeline(
    spark: SparkSession,
    source_files: DataFrame,
    cfg: PipelineConfig,
    restart: bool = False,
    detect_changes: bool = False,
    dedup: str | None = None,
    dedup_threshold: float = 0.7,
) -> dict[str, DataFrame]:
    """Run (or resume) the full pipeline; returns the output DataFrames."""
    lineage = LineageStore(spark, cfg.table_path("lineage"))
    log_event(
        "pipeline_start", warehouse=cfg.warehouse, restart=restart,
        detect_changes=detect_changes, partition_key=cfg.partition_key,
        lineage_buckets=cfg.lineage_buckets, dedup=dedup,
    )
    if restart:  # O15 + O17: truncate sink and checkpoints
        for t in _TABLES:
            shutil.rmtree(cfg.table_path(t), ignore_errors=True)
        lineage.reset()
        log_event("restart_truncated", warehouse=cfg.warehouse)

    if dedup is not None:
        source_files = _run_clean(
            spark, source_files, cfg, lineage, dedup, dedup_threshold,
            detect_changes=detect_changes,
        )

    b = cfg.lineage_buckets
    triples_path = cfg.table_path("triples")
    bucket = bucket_col("repo", "path", n_buckets=b)
    src = source_files.withColumn("bucket", bucket)
    _bucketed_stage(
        lineage, "extract",
        [("extract", triples_path, "bucket", lambda p: run_extract(
            _only(src, "bucket", p, b).drop("bucket"),
            engine=cfg.extract_engine,
        ).withColumn("bucket", bucket))],
        b, src, detect_changes,
    )
    triples = _read(spark, triples_path, TRIPLES, "bucket")

    mentions_path = cfg.table_path("mentions")
    matches_path = cfg.table_path("matches")

    def link():
        # the durable mentions table IS the materialization of the
        # corpus-sized distinct: read it back and re-derive shingles
        # map-side (a pure function of norm) instead of checkpointing
        _write(
            mentions_from_triples(triples, cfg).drop("shingles"),
            mentions_path,
        )
        mentions = add_shingles(_read(spark, mentions_path, MENTIONS), cfg)
        _write(match_pairs(mentions, cfg), matches_path)

    _atomic_stage(lineage, "link", (mentions_path, matches_path), link)
    mentions = _read(spark, mentions_path, MENTIONS)
    matches = _read(spark, matches_path, SCORED_PAIRS)

    emap_path = cfg.table_path("entity_map")

    _atomic_stage(
        lineage, "canonicalize", (emap_path,),
        lambda: _write(run_canonicalize(mentions, matches), emap_path),
    )
    entity_map = _read(spark, emap_path, ENTITY_MAP)

    # one lineage stage per element kind, the sink partitioned by a bucket
    # of the partition key (the reference's pk-partitioned container,
    # CosmosDb.cs:125-132): the transform is recomputed (deterministic),
    # but only pending buckets are WRITTEN, the corpus-sized cost.  It is
    # computed (driver regime) or planned (Spark regime; planning alone
    # took 0.55-1.0 s for the 707-file benchmark corpus on a 4-core host)
    # once, and only when a bucket is pending
    docs = functools.cache(
        lambda: materialize_tables(triples, entity_map, cfg)
    )
    kinds = (("nodes", NODES), ("edges", EDGES))
    _bucketed_stage(
        lineage, "materialize",
        [
            (f"materialize_{k}", cfg.table_path(k), "pk_bucket",
             lambda _, i=i: docs()[i])
            for i, (k, _) in enumerate(kinds)
        ],
        b,
    )
    nodes, edges = (
        _read(spark, cfg.table_path(k), schema, "pk_bucket")
        for k, schema in kinds
    )
    return {
        "triples": triples,
        "mentions": mentions,
        "matches": matches,
        "entity_map": entity_map,
        "nodes": nodes,
        "edges": edges,
        "lineage": lineage.read(),
    }
