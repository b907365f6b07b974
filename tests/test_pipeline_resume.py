"""Lineage + resume tests (FIXTURES.md §5): reruns are idempotent, resume
processes only missing work, outputs byte-identical to a clean run."""

from __future__ import annotations

import contextlib
import glob
import json
import logging
import os
import shutil

import pytest
from pyspark.sql import functions as F

from kg.conf import PipelineConfig
from kg.datagen import source_files_df
from kg.lineage import LineageStore, bucket_col
from kg.pipeline import run_pipeline
from kg.session import CODEGEN_CACHE_ENTRIES

N = 60


def _cfg(tmp_path_factory, name) -> PipelineConfig:
    return PipelineConfig(
        warehouse=str(tmp_path_factory.mktemp(name)), lineage_buckets=8
    )


def _snapshot(out):
    nodes = sorted(
        (r.id, r.label, r.partition_key, tuple(sorted((r.properties or {}).items())))
        for r in out["nodes"].collect()
    )
    edges = sorted(
        (r.id, r.label, r.out_id, r.in_id, r.out_label, r.in_label, r.out_pk, r.in_pk)
        for r in out["edges"].collect()
    )
    return nodes, edges


def _copy(warehouse: str, tmp_path_factory, name) -> PipelineConfig:
    """A config over a fresh warehouse holding a copy of ``warehouse``'s
    tables and lineage (file mtimes kept)."""
    cfg = _cfg(tmp_path_factory, name)
    shutil.copytree(warehouse, cfg.warehouse, dirs_exist_ok=True)
    return cfg


@contextlib.contextmanager
def _kg_events():
    """The ``kg`` log events emitted inside the block, as dicts."""
    events: list[dict] = []
    handler = logging.Handler(logging.INFO)
    handler.emit = lambda r: events.append(json.loads(r.getMessage()))
    logger = logging.getLogger("kg")
    level = logger.level
    logger.addHandler(handler)
    logger.setLevel(logging.INFO)
    try:
        yield events
    finally:
        logger.removeHandler(handler)
        logger.setLevel(level)


def _link_paths(events: list[dict]) -> list[tuple]:
    """(path, mentions) of each ``link_path`` event (``match_pairs``)."""
    return [
        (e["path"], e["mentions"]) for e in events if e["event"] == "link_path"
    ]


def _materialize_paths(events: list[dict]) -> list[tuple]:
    """(path, triples) of each ``materialize_path`` event."""
    return [(e["path"], e["triples"]) for e in events
            if e["event"] == "materialize_path"]


def _bucketed_rows(cfg: PipelineConfig, table: str) -> list[tuple]:
    """Sorted rows of a materialize table with their ``pk_bucket``."""
    import pyarrow.dataset as ds

    rows = ds.dataset(
        cfg.table_path(table), format="parquet", partitioning="hive"
    ).to_table().to_pylist()
    return sorted(
        tuple((k, tuple(v) if isinstance(v, list) else v) for k, v in r.items())
        for r in rows
    )


@pytest.fixture(scope="module")
def plain_build(spark, tmp_path_factory):
    """Restart build of the N-file corpus in default mode (no input
    fingerprints recorded), made once per module: (warehouse, snapshot,
    the ``kg`` events it logged).  Tests work on a ``_copy`` of the
    warehouse."""
    cfg = _cfg(tmp_path_factory, "plain_build")
    with _kg_events() as events:
        out = run_pipeline(spark, source_files_df(spark, N), cfg, restart=True)
    return cfg.warehouse, _snapshot(out), events


def _seeded_store(spark, tmp_path_factory) -> LineageStore:
    """A store holding four done extract buckets, written in the legacy
    8-column layout (with the since-dropped ``content_sha_xor``): the
    tests that use it also pin that old tables stay readable."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    store = LineageStore(
        spark, str(tmp_path_factory.mktemp("lineage_unit")) + "/lineage"
    )
    os.makedirs(store.path)
    legacy = pa.table(
        {
            "stage": pa.array(["extract"] * 4, pa.string()),
            "bucket": pa.array(range(4), pa.int32()),
            "rows_in": pa.array([1] * 4, pa.int64()),
            "rows_out": pa.array([1] * 4, pa.int64()),
            "content_sha_xor": pa.array(["1:0"] * 4, pa.string()),
            "input_fp": pa.array([None] * 4, pa.string()),
            "status": pa.array(["done"] * 4, pa.string()),
            "duration_ms": pa.array([0] * 4, pa.int64()),
        }
    )
    pq.write_table(legacy, os.path.join(store.path, "part-00000.parquet"))
    return store


def test_lineage_invalidation_survives_crash_after_durability_point(
    spark, tmp_path_factory
):
    """ADVICE r3: a crash inside the rewrite's rename window used to
    resurrect changed-fingerprint drops when the rerun didn't re-derive
    the trigger (default detect_changes=False).  The durability point is
    now tmp/_SUCCESS: simulate both post-durability crash windows and
    assert recovery rolls the drop FORWARD."""
    import os

    from kg.schemas import LINEAGE

    # window 1: tmp fully written, crash BEFORE the live table moved aside
    store = _seeded_store(spark, tmp_path_factory)
    keep = store.read().filter(F.col("bucket") < 2).toPandas()
    spark.createDataFrame(keep, schema=LINEAGE).write.parquet(store.path + ".tmp")
    assert store.completed_buckets("extract") == {0, 1}
    assert not os.path.exists(store.path + ".tmp")

    # window 2: live table moved to .old, crash before tmp→path rename
    store = _seeded_store(spark, tmp_path_factory)
    keep = store.read().filter(F.col("bucket") < 2).toPandas()
    spark.createDataFrame(keep, schema=LINEAGE).write.parquet(store.path + ".tmp")
    os.rename(store.path, store.path + ".old")
    assert store.completed_buckets("extract") == {0, 1}
    assert not os.path.exists(store.path + ".old")


def test_lineage_partial_tmp_rolls_back(spark, tmp_path_factory):
    """A crash MID-write of the new table (no _SUCCESS yet) discards the
    partial tmp and recovers the previous state — re-deriving triggers is
    then the rerun's job, and nothing recorded is lost."""
    import os

    store = _seeded_store(spark, tmp_path_factory)
    os.makedirs(store.path + ".tmp")
    with open(store.path + ".tmp/part-00000.parquet", "wb") as f:
        f.write(b"partial")
    os.rename(store.path, store.path + ".old")
    assert store.completed_buckets("extract") == {0, 1, 2, 3}
    assert not os.path.exists(store.path + ".tmp")
    assert not os.path.exists(store.path + ".old")


def test_rerun_is_idempotent(spark, tmp_path_factory, plain_build):
    warehouse, snap1, _ = plain_build
    cfg = _copy(warehouse, tmp_path_factory, "idem")
    src = source_files_df(spark, N)
    out2 = run_pipeline(spark, src, cfg)  # rerun, nothing to do
    snap2 = _snapshot(out2)
    assert snap1 == snap2
    # no duplicate ids after rerun (upsert semantics, CosmosDb.cs:144)
    assert out2["nodes"].count() == out2["nodes"].select("id").distinct().count()


def test_resume_processes_only_missing_buckets(
    spark, tmp_path_factory, plain_build
):
    src = source_files_df(spark, N)
    # clean full run → golden snapshot, independent of the build the
    # crash is simulated on
    golden_cfg = _cfg(tmp_path_factory, "golden")
    golden = _snapshot(run_pipeline(spark, src, golden_cfg, restart=True))

    # simulated crash: run fully, then delete half the extract lineage AND
    # the stage outputs downstream of extract — the rerun must re-extract
    # only the missing buckets and rebuild downstream.
    cfg = _copy(plain_build[0], tmp_path_factory, "resume")
    store = LineageStore(spark, cfg.table_path("lineage"))
    keep = store.read().filter(
        (F.col("stage") == "extract") & (F.col("bucket") < 4)
    )
    pdf = keep.toPandas()
    store.reset()
    spark.createDataFrame(pdf, schema=keep.schema).write.parquet(store.path)
    for t in ("mentions", "matches", "entity_map", "nodes", "edges"):
        shutil.rmtree(cfg.table_path(t), ignore_errors=True)

    done_before = store.completed_buckets("extract")
    assert 0 < len(done_before) < cfg.lineage_buckets

    out = run_pipeline(spark, src, cfg)
    assert _snapshot(out) == golden
    # every bucket with source rows is now recorded done (the previous
    # `>= buckets - len(done_before)` bound was already true BEFORE the
    # resume run, so it couldn't catch a skipped-recording regression)
    all_buckets = {
        r["b"]
        for r in src.select(
            bucket_col("repo", "path", n_buckets=cfg.lineage_buckets).alias("b")
        )
        .distinct()
        .collect()
    }
    assert store.completed_buckets("extract") == all_buckets >= done_before


def _with_modified_file(spark, src, n):
    """Corpus with ONE python file's content changed (adds an import)."""
    from kg.datagen import make_file

    target = next(f for f in map(make_file, range(n)) if f["lang"] == "python")
    is_target = (F.col("repo") == target["repo"]) & (
        F.col("path") == target["path"]
    )
    new_content = target["content"] + "\nimport sentinelxyz\n"
    return (
        src.withColumn(
            "content",
            F.when(is_target, F.lit(new_content)).otherwise(F.col("content")),
        ),
        target,
    )


def test_changed_input_bucket_is_rewritten(spark, tmp_path_factory):
    """Merge-with-changed-input (reference upsert semantics for *modified*
    documents, CosmosDb.cs:144): a rerun with detect_changes re-extracts
    only the changed bucket, converges to the clean-run state, keeps ids
    deterministic and introduces no duplicates."""
    cfg = _cfg(tmp_path_factory, "merge")
    src = source_files_df(spark, N)
    # detect_changes on the FIRST run too: fingerprints are recorded only
    # when asked for (the default path skips the content-column scan), and
    # only a fingerprinted record can prove a bucket unchanged later
    run_pipeline(spark, src, cfg, restart=True, detect_changes=True)
    store = LineageStore(spark, cfg.table_path("lineage"))
    n_lineage_rows_1 = store.read().filter("stage = 'extract'").count()
    assert (
        store.read()
        .filter("stage = 'extract' AND input_fp IS NULL")
        .count()
        == 0
    )

    src2, target = _with_modified_file(spark, src, N)
    # clean-run golden on the modified corpus
    golden = _snapshot(
        run_pipeline(spark, src2, _cfg(tmp_path_factory, "merge_g"), restart=True)
    )

    out = run_pipeline(spark, src2, cfg, detect_changes=True)
    assert _snapshot(out) == golden
    # the new import reached the graph
    sent = out["triples"].filter(
        (F.col("pred") == "imports-of") & (F.col("obj") == "sentinelxyz")
    )
    assert sent.count() == 1
    # no duplicate ids (the changed bucket was overwritten, not appended)
    assert out["nodes"].count() == out["nodes"].select("id").distinct().count()
    assert out["edges"].count() == out["edges"].select("id").distinct().count()
    # exactly one bucket was invalidated + re-recorded: row count unchanged
    assert store.read().filter("stage = 'extract'").count() == n_lineage_rows_1

    # a further rerun detects nothing to do (fingerprints now match)
    before = store.read().toPandas()
    run_pipeline(spark, src2, cfg, detect_changes=True)
    after = store.read().toPandas()
    assert len(before) == len(after)


def test_changed_bucket_with_zero_output_clears_stale_rows(
    spark, tmp_path_factory
):
    """Dynamic partition overwrite only replaces partitions PRESENT in
    the new output: a changed bucket whose re-extraction now yields ZERO
    triples must still lose its stale rows (the write path clears pending
    bucket dirs first), and lineage must record rows_out for the new
    state, not the stale files'."""
    from kg.datagen import make_file
    from kg.lineage import bucket_col

    cfg = _cfg(tmp_path_factory, "zero_clear")
    target = next(f for f in map(make_file, range(N)) if f["lang"] == "python")
    is_target = (F.col("repo") == target["repo"]) & (
        F.col("path") == target["path"]
    )
    # make the target the ONLY file in its work bucket — otherwise the
    # bucket's rewrite carries other files' rows and dynamic overwrite
    # replaces the partition even without the explicit clearing
    full = source_files_df(spark, N).withColumn(
        "b", bucket_col("repo", "path", n_buckets=cfg.lineage_buckets)
    )
    tb = full.filter(is_target).select("b").first().b
    src = full.filter((F.col("b") != tb) | is_target).drop("b")
    run_pipeline(spark, src, cfg, restart=True, detect_changes=True)

    # blank the file: its bucket's re-extraction now yields ZERO rows
    src2 = src.withColumn(
        "content", F.when(is_target, F.lit("x = 1\n")).otherwise(F.col("content"))
    )
    golden = _snapshot(
        run_pipeline(
            spark, src2, _cfg(tmp_path_factory, "zero_clear_g"), restart=True
        )
    )
    out = run_pipeline(spark, src2, cfg, detect_changes=True)
    assert (
        out["triples"].filter(F.col("path") == target["path"]).count() == 0
    )
    assert _snapshot(out) == golden


def test_crash_after_extract_recorded_still_rebuilds_downstream(
    spark, tmp_path_factory, monkeypatch, plain_build
):
    """Durable downstream invalidation: a run that re-extracts new input,
    records extract lineage, then CRASHES before link completes must not
    strand stale downstream outputs — the rerun (where extract itself has
    nothing pending) must still rebuild link/canonicalize/materialize and
    converge to the clean-run state.  Before the fix, the invalidation
    rode the in-process extract_ran flag and the rerun skipped every
    downstream stage against the stale 'done' lineage."""
    import kg.pipeline as P

    src = source_files_df(spark, N)
    warehouse, golden, _ = plain_build
    cfg = _copy(warehouse, tmp_path_factory, "crash_ds")

    # run B: a detect_changes rerun (run A recorded no fingerprints, so
    # every bucket is conservatively re-extracted) records extract
    # lineage, then link crashes
    real_mft = P.mentions_from_triples
    monkeypatch.setattr(
        P,
        "mentions_from_triples",
        lambda *a, **k: (_ for _ in ()).throw(RuntimeError("boom")),
    )
    with pytest.raises(RuntimeError, match="boom"):
        run_pipeline(spark, src, cfg, detect_changes=True)
    monkeypatch.setattr(P, "mentions_from_triples", real_mft)

    # run C: extract has nothing pending (it is skipped), but the
    # crashed run's durable invalidation forces downstream to rebuild
    store = LineageStore(spark, cfg.table_path("lineage"))
    assert "link" not in {
        r.stage for r in store.read().select("stage").distinct().collect()
    }
    out = run_pipeline(spark, src, cfg)
    assert _snapshot(out) == golden


def test_default_run_skips_fingerprint_then_detect_changes_recovers(
    spark, tmp_path_factory, plain_build
):
    """The default path records NO input fingerprint (no content-column
    re-scan of the corpus); a later detect_changes run cannot prove those
    buckets unchanged, so it conservatively re-extracts them once and
    upgrades the records with fingerprints — converging to the same
    state, after which detection is incremental again."""
    src = source_files_df(spark, N)
    cfg = _copy(plain_build[0], tmp_path_factory, "fp_gate")
    n1 = spark.read.parquet(cfg.table_path("triples")).count()
    store = LineageStore(spark, cfg.table_path("lineage"))
    ext = store.read().filter("stage = 'extract'")
    assert ext.filter("input_fp IS NOT NULL").count() == 0

    out2 = run_pipeline(spark, src, cfg, detect_changes=True)
    assert out2["triples"].count() == n1
    ext = store.read().filter("stage = 'extract'")
    assert ext.filter("input_fp IS NULL").count() == 0

    # now fingerprinted: a further detect_changes rerun is a no-op
    before = store.read().toPandas()
    run_pipeline(spark, src, cfg, detect_changes=True)
    assert len(before) == len(store.read().toPandas())


def test_zero_output_bucket_is_marked_done(spark, tmp_path_factory, caplog):
    """Every pending bucket is recorded: a bucket whose files yield no
    triples, and one with no files at all, must still be marked done
    (else real corpora with unknown-language files re-extract it on
    every rerun), so a plain rerun skips extract."""
    import json
    import logging

    from kg.lineage import bucket_col

    cfg = PipelineConfig(
        warehouse=str(tmp_path_factory.mktemp("zero")), lineage_buckets=64
    )
    src = source_files_df(spark, 6)
    # add a file that yields zero triples (pure filler, no imports/classes)
    extra = src.sparkSession.createDataFrame(
        [("orgz/repoz", "src/empty.py", "c" * 40, "python", "x = 1\ny = x + 1\n")],
        src.schema,
    )
    src = src.unionByName(extra)
    out = run_pipeline(spark, src, cfg, restart=True)

    b0 = (
        extra.select(bucket_col("repo", "path", n_buckets=64).alias("b"))
        .first()
        .b
    )
    store = LineageStore(spark, cfg.table_path("lineage"))
    # 7 files over 64 buckets: most buckets have no source rows
    assert store.completed_buckets("extract") == set(range(64))
    row = (
        store.read()
        .filter((F.col("stage") == "extract") & (F.col("bucket") == b0))
        .first()
    )
    assert row.rows_in >= 1
    # rerun: nothing pending, lineage unchanged (the short-circuit holds
    # even though the bucket produced no triples)
    n1 = store.read().count()
    with caplog.at_level(logging.INFO, logger="kg"):
        run_pipeline(spark, src, cfg)
    events = [
        json.loads(r.getMessage()) for r in caplog.records if r.name == "kg"
    ]
    assert {"event": "stage_skipped", "stage": "extract"} in events
    assert store.read().count() == n1
    assert out["triples"].filter(F.col("path") == "src/empty.py").count() == 0


def test_file_added_to_empty_bucket_is_extracted(spark, tmp_path_factory):
    """A detect_changes build records every bucket with a fingerprint,
    a bucket without source rows with the empty one: a file added to
    such a bucket reads as a change, so the next detect_changes run
    extracts it and the graph equals a restart build."""
    from kg.datagen import make_file
    from kg.schemas import SOURCE_FILES

    bucket = bucket_col("repo", "path", n_buckets=64)
    files = [make_file(i) for i in range(60)]
    src = spark.createDataFrame(files[:7], SOURCE_FILES)
    cfg = PipelineConfig(
        warehouse=str(tmp_path_factory.mktemp("empty_fp")), lineage_buckets=64
    )
    run_pipeline(spark, src, cfg, restart=True, detect_changes=True)
    store = LineageStore(spark, cfg.table_path("lineage"))
    ext = store.read().filter("stage = 'extract'")
    assert ext.count() == 64
    assert ext.filter("input_fp IS NULL").count() == 0

    used = [r.b for r in src.select(bucket.alias("b")).distinct().collect()]
    new = (
        spark.createDataFrame(files[7:], SOURCE_FILES)
        .filter((F.col("lang") == "python") & ~bucket.isin(used))
        .orderBy("repo", "path")
        .first()
    )
    src2 = spark.createDataFrame(files[:7] + [new.asDict()], SOURCE_FILES)
    golden = _snapshot(
        run_pipeline(
            spark, src2, _cfg(tmp_path_factory, "empty_fp_g"), restart=True
        )
    )
    out = run_pipeline(spark, src2, cfg, detect_changes=True)
    assert out["triples"].filter(F.col("path") == new.path).count() > 0
    assert _snapshot(out) == golden
    ext = store.read().filter("stage = 'extract'")
    assert ext.count() == 64
    assert ext.filter("input_fp IS NULL").count() == 0


def test_new_pending_bucket_set_compiles_no_code(spark, tmp_path_factory):
    """The pending-bucket filter's generated code does not depend on the
    set: once a detect_changes run has pended one bucket, a run pending
    another compiles no class in extract (a filter that inlines the
    bucket values compiled new ones for every distinct set)."""
    from kg.datagen import make_file
    from kg.schemas import SOURCE_FILES

    cfg = _cfg(tmp_path_factory, "pending_sets")
    files = [make_file(i) for i in range(20)]
    # local DataFrames: no edited literal enters a plan
    src = spark.createDataFrame(files, SOURCE_FILES)
    run_pipeline(spark, src, cfg, restart=True, detect_changes=True)
    bucket = bucket_col("repo", "path", n_buckets=cfg.lineage_buckets)
    python = {
        r.b: (r.repo, r.path)
        for r in src.filter(F.col("lang") == "python")
        .select("repo", "path", bucket.alias("b")).collect()
    }
    first, second = (python[b] for b in sorted(python)[:2])

    def edited(*keys):
        return spark.createDataFrame([
            {**f, "content": f["content"] + "\nimport sentinelxyz\n"}
            if (f["repo"], f["path"]) in keys else f
            for f in files
        ], SOURCE_FILES)

    run_pipeline(spark, edited(first), cfg, detect_changes=True)
    with _kg_events() as events:
        run_pipeline(spark, edited(first, second), cfg, detect_changes=True)
    extract = [e for e in events if e.get("stage") == "extract"]
    assert [e["event"] for e in extract] == [
        "changed_buckets_invalidated", "stage_start", "stage_done"
    ]
    assert extract[1]["pending_buckets"] == {"extract": 1}
    assert extract[2]["codegen_compiles"] == 0


@pytest.mark.parametrize("path", ["driver", "spark"])
def test_materialize_resume_rewrites_only_missing_buckets(
    spark, tmp_path_factory, monkeypatch, plain_build, path
):
    """Kill-mid-materialize (VERDICT r2 #6): with extract fully done, a
    rerun must rewrite ONLY the node buckets whose lineage is missing —
    completed buckets' files stay untouched on disk — and converge to the
    clean-run state, on either materialize path (``spark``: the budget
    forced to 0)."""
    import os

    from kg import hints

    src = source_files_df(spark, N)
    warehouse, golden, _ = plain_build
    cfg = _copy(warehouse, tmp_path_factory, f"mat_resume_{path}")
    want = _bucketed_rows(cfg, "nodes")
    if path == "spark":
        monkeypatch.setattr(hints, "DEFAULT_MAX_BYTES", 0)

    store = LineageStore(spark, cfg.table_path("lineage"))
    done = sorted(store.completed_buckets("materialize_nodes"))
    assert done == list(range(cfg.lineage_buckets))  # every bucket recorded
    # simulated crash: half the node buckets unrecorded + their data gone
    lost = set(done[: len(done) // 2])
    store.invalidate_buckets("materialize_nodes", lost)
    nodes_path = cfg.table_path("nodes")
    for bkt in lost:
        shutil.rmtree(f"{nodes_path}/pk_bucket={bkt}", ignore_errors=True)

    survivor = f"{nodes_path}/pk_bucket={done[-1]}"
    mtimes_before = {
        f: os.path.getmtime(f"{survivor}/{f}") for f in os.listdir(survivor)
    }

    with _kg_events() as events:
        out = run_pipeline(spark, src, cfg)
    assert [p for p, _ in _materialize_paths(events)] == [path]
    assert _snapshot(out) == golden
    assert _bucketed_rows(cfg, "nodes") == want
    # completed buckets were NOT rewritten (same files, same mtimes)
    mtimes_after = {
        f: os.path.getmtime(f"{survivor}/{f}") for f in os.listdir(survivor)
    }
    assert mtimes_after == mtimes_before
    assert sorted(store.completed_buckets("materialize_nodes")) == done


@pytest.mark.parametrize(
    "table, stage",
    [
        ("mentions", "link"),
        ("entity_map", "canonicalize"),
        ("triples", "extract"),
    ],
)
def test_missing_output_rebuilds_recorded_stage(
    spark, tmp_path_factory, caplog, plain_build, table, stage
):
    """Resume checks the outputs, not just lineage: a table deleted while
    its stage (atomic or bucketed) still reads done is rebuilt by a plain
    rerun, and the graph equals the first run's."""
    import json
    import logging
    import os

    src = source_files_df(spark, N)
    warehouse, golden, _ = plain_build
    cfg = _copy(warehouse, tmp_path_factory, f"lost_{table}")
    store = LineageStore(spark, cfg.table_path("lineage"))
    rows = store.read().filter(F.col("stage") == stage).count()
    shutil.rmtree(cfg.table_path(table))
    assert store.stage_done(stage)

    with caplog.at_level(logging.INFO, logger="kg"):
        out = run_pipeline(spark, src, cfg)
    events = [
        json.loads(r.getMessage()) for r in caplog.records if r.name == "kg"
    ]
    # bucketed stage_start events also carry pending counts
    assert any(
        e["event"] == "stage_start" and e.get("stage") == stage
        for e in events
    )
    assert os.path.exists(cfg.table_path(table))
    assert store.stage_done(stage)
    # the lost table's rows were replaced, not appended to
    assert store.read().filter(F.col("stage") == stage).count() == rows
    assert _snapshot(out) == golden


def test_over_budget_vocabulary_takes_the_spark_path(
    spark, tmp_path_factory, plain_build, monkeypatch
):
    """``plain_build``, whose vocabulary and triples are far under the
    driver budget, ran link and materialize on the driver.  With the
    budget forced to 0 both take the Spark path, and every table equals
    the driver-path build's, nodes and edges with their ``pk_bucket``."""
    from kg import hints

    warehouse, golden, first_events = plain_build
    first = PipelineConfig(warehouse=warehouse)
    monkeypatch.setattr(hints, "DEFAULT_MAX_BYTES", 0)
    cfg = _cfg(tmp_path_factory, "spark_path")
    with _kg_events() as events:
        out = run_pipeline(spark, source_files_df(spark, N), cfg, restart=True)
    n = out["mentions"].count()
    triples = out["triples"].count()
    assert _link_paths(first_events) == [("driver", n)]
    assert _link_paths(events) == [("spark", None)]
    assert _materialize_paths(first_events) == [("driver", triples)]
    assert _materialize_paths(events) == [("spark", triples)]
    for t in ("mentions", "matches", "entity_map"):
        want = spark.read.parquet(first.table_path(t)).collect()
        assert sorted(map(tuple, out[t].collect())) == sorted(map(tuple, want))
    assert _snapshot(out) == golden
    for t in ("nodes", "edges"):
        assert _bucketed_rows(cfg, t) == _bucketed_rows(first, t)


def test_restart_truncates_everything(spark, tmp_path_factory):
    """A second restart build truncates and redoes every stage (O15), and
    compiles no generated code: the session's codegen cache
    (``kg.session.CODEGEN_CACHE_ENTRIES``) holds the first build's
    classes, and each ``stage_done`` event reports the stage's compiles."""
    cfg = _cfg(tmp_path_factory, "restart")
    src = source_files_df(spark, 20)
    run_pipeline(spark, src, cfg, restart=True)
    with _kg_events() as events:
        out = run_pipeline(spark, src, cfg, restart=True)
    n = out["nodes"].count()
    assert n == out["nodes"].select("id").distinct().count() > 0
    compiles = {
        e["stage"]: e["codegen_compiles"]
        for e in events if e["event"] == "stage_done"
    }
    assert compiles == dict.fromkeys(
        ("extract", "link", "canonicalize", "materialize"), 0
    )
    # a bucketed stage reports the parquet files its buckets hold
    files = {
        e["stage"]: e["files_written"]
        for e in events if e["event"] == "stage_done" and "files_written" in e
    }
    assert files == {
        stage: sum(
            len(glob.glob(os.path.join(cfg.table_path(t), "*", "*.parquet")))
            for t in tables
        )
        for stage, tables in (
            ("extract", ["triples"]), ("materialize", ["nodes", "edges"])
        )
    }
    assert files["materialize"] > 0
    # one small build fits Spark's default cache too; the benchmark ops
    # need the session's larger one
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )


def test_tables_read_back_with_their_inferred_schema(
    spark, tmp_path_factory, plain_build
):
    """The pipeline reads its tables back with their declared schemas,
    which run no inference job; each equals what parquet inference
    reads, bucket column dropped."""
    from kg.pipeline import _run_clean

    cfg = _copy(plain_build[0], tmp_path_factory, "declared_schemas")
    out = run_pipeline(spark, source_files_df(spark, N), cfg)  # all skipped
    clean = _run_clean(
        spark, source_files_df(spark, 20), cfg,
        LineageStore(spark, cfg.table_path("lineage")), "exact", 0.7,
    )
    tables = {**out, "clean": clean}
    buckets = {
        "clean": "cbucket", "triples": "bucket",
        "nodes": "pk_bucket", "edges": "pk_bucket",
    }
    for name in (
        "clean", "triples", "mentions", "matches", "entity_map",
        "nodes", "edges",
    ):
        inferred = spark.read.parquet(cfg.table_path(name))
        if name in buckets:
            inferred = inferred.drop(buckets[name])
        assert tables[name].schema == inferred.schema, name


def test_lineage_metrics_recorded(spark, tmp_path_factory):
    cfg = _cfg(tmp_path_factory, "metrics")
    out = run_pipeline(spark, source_files_df(spark, 30), cfg, restart=True)
    lin = out["lineage"]
    stages = {r.stage for r in lin.select("stage").distinct().collect()}
    assert stages == {
        "extract", "link", "canonicalize",
        "materialize_nodes", "materialize_edges",
    }
    ext = lin.filter("stage = 'extract'")
    assert ext.agg(F.sum("rows_out")).first()[0] == out["triples"].count()
    assert ext.filter("duration_ms >= 0").count() == ext.count()


def test_restart_clears_rewrite_scratch_dirs(spark, tmp_path_factory):
    """A crash after the rewrite's .tmp/_SUCCESS durability point
    followed by --restart: reset() must remove .tmp/.old too, or the
    next read's _recover() rolls the PRE-restart table forward over the
    reset — every stage would then read 'done' lineage for outputs the
    restart just truncated."""
    import os

    from kg.schemas import LINEAGE

    store = _seeded_store(spark, tmp_path_factory)
    keep = store.read().toPandas()
    # simulate the post-durability crash window of _rewrite_keeping
    spark.createDataFrame(keep, schema=LINEAGE).write.parquet(
        store.path + ".tmp"
    )
    store.reset()
    assert store.completed_buckets("extract") == set()
    assert not os.path.exists(store.path + ".tmp")
    # .old alone (pre-durability window): reset clears it as well
    store2 = _seeded_store(spark, tmp_path_factory)
    os.rename(store2.path, store2.path + ".old")
    store2.reset()
    assert store2.completed_buckets("extract") == set()
    assert not os.path.exists(store2.path + ".old")


def _table(spark, path: str) -> list[tuple]:
    df = spark.read.parquet(path)
    return sorted(map(tuple, df.select(sorted(df.columns)).collect()))


def test_crash_mid_atomic_rebuild_is_not_trusted(
    spark, tmp_path_factory, monkeypatch, plain_build
):
    """A crash while an atomic stage rebuilds must not leave its
    half-written output under its old ``done`` row: the stage drops its
    lineage before it deletes its outputs, so a plain rerun rebuilds it
    and every table equals a restart build."""
    import kg.pipeline as P

    cfg = _copy(plain_build[0], tmp_path_factory, "crash_atomic")
    src = source_files_df(spark, N)
    golden = {
        t: _table(spark, cfg.table_path(t))
        for t in ("mentions", "matches", "entity_map", "nodes", "edges")
    }
    matches_path = cfg.table_path("matches")
    schema = spark.read.parquet(matches_path).schema
    shutil.rmtree(matches_path)

    real_write = P._write

    def partial_write(df, path, *a, **kw):
        if path != matches_path:
            return real_write(df, path, *a, **kw)
        real_write(spark.createDataFrame([], schema), path, *a, **kw)
        raise RuntimeError("crash mid-write")

    monkeypatch.setattr(P, "_write", partial_write)
    with pytest.raises(RuntimeError, match="crash mid-write"):
        run_pipeline(spark, src, cfg)
    monkeypatch.setattr(P, "_write", real_write)

    run_pipeline(spark, src, cfg)
    assert {t: _table(spark, cfg.table_path(t)) for t in golden} == golden
