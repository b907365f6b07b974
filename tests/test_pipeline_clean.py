"""Optional clean (dedup) stage: planted exact/near duplicates are
dropped before extract, a clean corpus passes through unchanged, and the
exact mode resumes at bucket granularity like extract."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from kg.conf import PipelineConfig
from kg.datagen import source_files_df
from kg.lineage import LineageStore
from kg.pipeline import run_pipeline

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


@pytest.fixture(scope="module")
def baseline(spark, tmp_path_factory):
    """Clean-corpus golden: the un-deduped pipeline output at N files."""
    cfg = _cfg(tmp_path_factory, "clean_base")
    return _snapshot(
        run_pipeline(spark, source_files_df(spark, N), cfg, restart=True)
    )


def _with_exact_copies(spark, n_copies=10):
    """Corpus + byte-identical copies of the first files under a repo
    name ('zz-mirror') that sorts AFTER every original, so the
    deterministic keeper is always the original."""
    src = source_files_df(spark, N)
    copies = (
        src.orderBy("repo", "path").limit(n_copies)
        .withColumn("repo", F.concat(F.lit("zz-mirror/"), F.col("repo")))
    )
    return src.unionByName(copies)


def test_clean_exact_drops_planted_duplicates(spark, tmp_path_factory, baseline):
    cfg = _cfg(tmp_path_factory, "clean_exact")
    out = run_pipeline(
        spark, _with_exact_copies(spark), cfg, restart=True, dedup="exact"
    )
    # duplicates gone BEFORE extract: output equals the clean-corpus run
    assert _snapshot(out) == baseline
    # lineage recorded per bucket for the clean stage
    store = LineageStore(spark, cfg.table_path("lineage"))
    assert len(store.completed_buckets("clean_exact")) == cfg.lineage_buckets
    # clean table holds exactly the unique corpus
    assert spark.read.parquet(cfg.table_path("clean")).count() == N


def test_clean_no_dups_passthrough(spark, tmp_path_factory, baseline):
    """kg_triples/nodes/edges unchanged when no duplicates are planted."""
    cfg = _cfg(tmp_path_factory, "clean_nodup")
    out = run_pipeline(
        spark, source_files_df(spark, N), cfg, restart=True, dedup="exact"
    )
    assert _snapshot(out) == baseline


def test_clean_exact_resume_only_missing_buckets(spark, tmp_path_factory, baseline):
    """Crash mid-clean: drop half the clean lineage + all downstream
    output; the rerun re-cleans only missing buckets and converges to
    the same outputs."""
    cfg = _cfg(tmp_path_factory, "clean_resume")
    src = _with_exact_copies(spark)
    run_pipeline(spark, src, cfg, restart=True, dedup="exact")
    store = LineageStore(spark, cfg.table_path("lineage"))
    keep = store.read().filter(
        (F.col("stage") == "clean_exact") & (F.col("bucket") < 4)
    )
    pdf = keep.toPandas()
    store.reset()
    spark.createDataFrame(pdf, schema=keep.schema).write.parquet(store.path)
    for t in ("triples", "mentions", "matches", "entity_map", "nodes", "edges"):
        shutil.rmtree(cfg.table_path(t), ignore_errors=True)
    done_before = store.completed_buckets("clean_exact")
    assert 0 < len(done_before) < cfg.lineage_buckets

    out = run_pipeline(spark, src, cfg, dedup="exact")
    assert _snapshot(out) == baseline
    assert len(store.completed_buckets("clean_exact")) == cfg.lineage_buckets


def _hand_rows():
    """Six mutually-dissimilar python files (no shared shingles): the
    SYNTHETIC generator's files are templated and mutually similar
    (cross-file Jaccard up to ~0.94 — measured), so a threshold that
    catches a planted near-copy also drops genuine files there."""
    mods = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot"]
    rows = []
    for i, m in enumerate(mods):
        body = "\n".join(
            [f"import lib_{m}_{j}" for j in range(6)]
            + [f"class {m.title()}Handler_{j}(BaseOf{m.title()}{j}):"
               f"\n    pass" for j in range(4)]
        )
        rows.append((f"org/repo{i}", f"src/{m}.py", "c0", "python", body))
    return rows


def _handmade_corpus(spark, with_near_dup: bool):
    """Controlled corpus for the near-dup test; the near-copy differs
    from file0 by one trailing line."""
    rows = _hand_rows()
    if with_near_dup:
        near = rows[0][4] + "\n# forked with a trailing note\n"
        rows.append(("zz-fork/org/repo0", "src/alpha.py", "c0", "python", near))
    from kg.schemas import SOURCE_FILES

    return spark.createDataFrame(rows, SOURCE_FILES)


def test_near_dup_drop_ids_cluster_consistent(spark):
    """Keeper selection is per-CLUSTER, not per-pair (VERDICT r4 #4):
    chains keep only their min member, and star shapes — where the old
    greedy pair-side drop kept both outer endpoints — collapse to one."""
    from kg.pipeline import _near_dup_drop_ids

    pairs = spark.createDataFrame(
        [
            ("a", "b"), ("b", "c"),          # chain a-b-c
            ("x", "z"), ("y", "z"),          # star: x,y both near-dup z
        ],
        "a string, b string",
    )
    dropped = {r["_fid"] for r in _near_dup_drop_ids(pairs).collect()}
    assert dropped == {"b", "c", "y", "z"}  # survivors: a (chain), x (star)


def test_clean_minhash_chain_keeps_only_min_member(spark, tmp_path_factory):
    """End-to-end: a dup CHAIN base ~ fork1 ~ fork2 planted in the
    corpus leaves exactly the (repo, path)-min member in the clean
    table."""
    rows = _hand_rows()  # six dissimilar files
    base = rows[0][4]
    fork1 = base + "\n# forked with a trailing note\n"
    fork2 = fork1 + "# second-generation fork note\n"
    rows.append(("pp-fork1/org/repo0", "src/alpha.py", "c0", "python", fork1))
    rows.append(("zz-fork2/org/repo0", "src/alpha.py", "c0", "python", fork2))
    from kg.schemas import SOURCE_FILES

    src = spark.createDataFrame(rows, SOURCE_FILES)
    cfg = _cfg(tmp_path_factory, "clean_mh_chain")
    run_pipeline(
        spark, src, cfg, restart=True, dedup="minhash", dedup_threshold=0.5
    )
    clean = spark.read.parquet(cfg.table_path("clean"))
    assert clean.count() == 6
    got = {r["repo"] for r in clean.select("repo").collect()}
    assert "org/repo0" in got  # the min (repo, path) member survives
    assert not any(r.startswith(("pp-fork1/", "zz-fork2/")) for r in got)


def test_clean_minhash_drops_near_duplicates(spark, tmp_path_factory):
    """A near-copy (same content + one appended line) is not an exact
    duplicate but IS a minhash near-dup: --dedup minhash drops it and
    the output equals the run on the corpus without the near-copy."""
    base_cfg = _cfg(tmp_path_factory, "clean_mh_base")
    golden = _snapshot(
        run_pipeline(
            spark, _handmade_corpus(spark, False), base_cfg, restart=True
        )
    )
    cfg = _cfg(tmp_path_factory, "clean_minhash")
    out = run_pipeline(
        spark, _handmade_corpus(spark, True), cfg, restart=True,
        dedup="minhash", dedup_threshold=0.5,
    )
    assert _snapshot(out) == golden
    clean = spark.read.parquet(cfg.table_path("clean"))
    assert clean.count() == 6
    assert clean.filter(F.col("repo").startswith("zz-fork/")).count() == 0
    store = LineageStore(spark, cfg.table_path("lineage"))
    assert store.stage_done("clean_minhash")
    # rerun with nothing new skips the stage and converges to itself
    out2 = run_pipeline(
        spark, _handmade_corpus(spark, True), cfg,
        dedup="minhash", dedup_threshold=0.5,
    )
    assert _snapshot(out2) == golden


def test_clean_exact_detect_changes_picks_up_grown_source(
    spark, tmp_path_factory
):
    """New source files hash into already-done content buckets; a plain
    rerun resumes past them (documented), but --detect-changes must
    invalidate the grown buckets and re-clean so the new files reach
    extract — the same contract the flag gives the extract stage."""
    cfg = _cfg(tmp_path_factory, "clean_grow")
    small = source_files_df(spark, N)
    out1 = run_pipeline(
        spark, small, cfg, restart=True, dedup="exact", detect_changes=True
    )
    n1 = out1["triples"].count()

    grown = source_files_df(spark, N + 20)
    # plain rerun: every content bucket reads done -> stale clean table
    out2 = run_pipeline(spark, grown, cfg, dedup="exact")
    assert out2["triples"].count() == n1

    out3 = run_pipeline(
        spark, grown, cfg, dedup="exact", detect_changes=True
    )
    n3 = out3["triples"].count()
    # reference answer: a fresh restart run over the grown corpus
    cfg_ref = _cfg(tmp_path_factory, "clean_grow_ref")
    ref = run_pipeline(
        spark, grown, cfg_ref, restart=True, dedup="exact"
    )
    assert n3 == ref["triples"].count() > n1


def test_clean_minhash_detect_changes_picks_up_grown_source(
    spark, tmp_path_factory
):
    cfg = _cfg(tmp_path_factory, "clean_grow_mh")
    out1 = run_pipeline(
        spark, source_files_df(spark, N), cfg, restart=True,
        dedup="minhash", detect_changes=True,
    )
    assert out1["triples"].count() > 0
    grown = source_files_df(spark, N + 20)
    out2 = run_pipeline(
        spark, grown, cfg, dedup="minhash", detect_changes=True
    )
    # convergence contract: the detect-changes rerun over the grown
    # corpus equals a fresh restart run over it (the templated synthetic
    # corpus may legitimately collapse the new files as near-dups, so
    # equality-with-reference is the assertion, not growth)
    cfg_ref = _cfg(tmp_path_factory, "clean_grow_mh_ref")
    ref = run_pipeline(
        spark, grown, cfg_ref, restart=True, dedup="minhash"
    )
    assert _snapshot(out2) == _snapshot(ref)


def test_clean_minhash_detect_changes_drops_new_victim(spark, tmp_path_factory):
    """A detect_changes rerun that turns a previously kept file into a
    near-dup victim must drop it from the clean table.  The victim's
    content bucket is absent from the rebuilt output, so a partition-wise
    overwrite would keep its old dir: the rerun must equal a restart
    build over the same input."""
    from kg.schemas import SOURCE_FILES

    rows = _hand_rows()
    cfg = PipelineConfig(
        warehouse=str(tmp_path_factory.mktemp("clean_mh_victim")),
        lineage_buckets=11,
    )
    run_pipeline(
        spark, spark.createDataFrame(rows, SOURCE_FILES), cfg, restart=True,
        dedup="minhash", dedup_threshold=0.5, detect_changes=True,
    )
    # the near-copy sorts before org/repo0, so org/repo0 becomes the victim
    near = rows[0][4] + "\n# forked with a trailing note\n"
    grown = spark.createDataFrame(
        rows + [("aa-fork/org/repo0", "src/alpha.py", "c0", "python", near)],
        SOURCE_FILES,
    )
    out = _snapshot(run_pipeline(
        spark, grown, cfg, dedup="minhash", dedup_threshold=0.5,
        detect_changes=True,
    ))
    ref_cfg = PipelineConfig(
        warehouse=str(tmp_path_factory.mktemp("clean_mh_victim_ref")),
        lineage_buckets=11,
    )
    ref = _snapshot(run_pipeline(
        spark, grown, ref_cfg, restart=True, dedup="minhash",
        dedup_threshold=0.5,
    ))

    def clean(c):
        return sorted(
            (r.repo, r.path)
            for r in spark.read.parquet(c.table_path("clean")).collect()
        )

    assert clean(cfg) == clean(ref_cfg)
    assert len(clean(cfg)) == 6
    assert "org/repo0" not in {repo for repo, _ in clean(cfg)}
    assert out == ref
