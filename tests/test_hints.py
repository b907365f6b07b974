"""Broadcast-gate tests (VERDICT r2 "unguarded broadcast hints").

The scale failure being guarded: an explicit F.broadcast on a table that
outgrows the executor budget OOMs, because the hint overrides Catalyst's
size check.  The gate must (a) keep the hint when the size is provably
small, (b) drop it when the size is unknown or large — letting the plan
degrade to a shuffle join, never an OOM — with results unchanged.
"""

from __future__ import annotations

from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from kg.conf import PipelineConfig
from kg.hints import broadcast_if_small, maybe_broadcast, plan_size_bytes
from kg.materialize import run_materialize


@contextmanager
def _conf(spark, **kv):
    old = {k: spark.conf.get(k, None) for k in kv}
    try:
        for k, v in kv.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _stats_blind(df):
    """Rebuild the DataFrame from its raw RDD: same rows, but the new
    LogicalRDD has no originating Dataset, so Catalyst reports the
    defaultSizeInBytes sentinel (Long.Max) — a truly unknown size."""
    spark = df.sparkSession
    return spark.createDataFrame(df.rdd, df.schema)


def test_plan_size_known_for_files_unknown_for_raw_rdd(spark, sf_dir):
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    size = plan_size_bytes(region)
    assert size is not None and 0 < size < 1 << 30
    assert plan_size_bytes(_stats_blind(region)) is None
    # localCheckpoint and mapInPandas PROPAGATE the child's estimate
    # (SPARK-39834) — possibly wrong about output width, but an estimate,
    # not a sentinel; the gate treats it exactly like auto-broadcast would
    assert plan_size_bytes(region.localCheckpoint()) == size
    mapped = region.mapInPandas(lambda it: it, schema=region.schema)
    assert plan_size_bytes(mapped) == size


def test_maybe_broadcast_keeps_hint_only_when_provably_small(spark, sf_dir):
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    with _conf(
        spark,
        **{
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.enabled": "false",
        },
    ):
        # provably small → hint survives the disabled auto-threshold
        hinted = nation.join(
            maybe_broadcast(region), nation.n_regionkey == region.r_regionkey
        )
        assert "BroadcastHashJoin" in _plan(hinted)
        # unknown stats → NO hint → Catalyst falls back to a shuffle join
        blind = _stats_blind(region)
        unhinted = nation.join(
            maybe_broadcast(blind), nation.n_regionkey == blind.r_regionkey
        )
        p = _plan(unhinted)
        assert "BroadcastHashJoin" not in p and "SortMergeJoin" in p
        # over-budget estimate → no hint either
        tiny_budget = nation.join(
            maybe_broadcast(region, max_bytes=1),
            nation.n_regionkey == region.r_regionkey,
        )
        assert "BroadcastHashJoin" not in _plan(tiny_budget)


def test_spread_to_slots_only_when_coarse(spark, sf_dir):
    """A compact single-split parquet must be spread to the slot count
    (compute-bound per-row stages otherwise serialize on one core); an
    input already at/above slot count passes through untouched."""
    from kg.hints import spread_to_slots

    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    slots = spark.sparkContext.defaultParallelism
    assert region.rdd.getNumPartitions() < slots
    out = spread_to_slots(region)
    assert out.rdd.getNumPartitions() == slots
    assert spread_to_slots(out) is out  # no gratuitous second shuffle
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, region.collect())
    )


def test_broadcast_if_small_row_gate(spark, sf_dir):
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    small = broadcast_if_small(region, row_count=100, bytes_per_row=1024)
    big = broadcast_if_small(region, row_count=10**9, bytes_per_row=1024)
    assert small is not region  # hinted copy
    assert big is region  # unhinted passthrough


def _tiny_graph(spark):
    triples = spark.createDataFrame(
        [
            ("file:r:a.py", "imports-of", "requests", "r", "a.py", "c0", "python", "s0"),
            ("file:r:b.py", "imports-of", "Requests", "r", "b.py", "c0", "python", "s1"),
            ("file:r:b.py", "extends", "BaseModel", "r", "b.py", "c0", "python", "s1"),
        ],
        "subj string, pred string, obj string, repo string, path string, "
        "commit string, lang string, content_sha string",
    )
    from kg.ids import mention_id

    m = triples.filter(F.col("obj").isin("requests", "Requests")).select(
        mention_id(F.lit("module"), F.col("obj")).alias("mention_id")
    )
    mids = sorted(r.mention_id for r in m.collect())
    emap = spark.createDataFrame(
        [(mid, mids[0]) for mid in mids], "mention_id string, canonical_id string"
    )
    return triples, emap


def test_materialize_degrades_to_shuffle_join_not_oom(spark):
    """Forced worst case: auto-broadcast off AND a stats-less entity_map.
    The plan must contain a shuffle join (no broadcast anywhere on the
    entity_map edge) and the output must equal the stats-backed run."""
    triples, emap = _tiny_graph(spark)
    cfg = PipelineConfig(partition_key="repo")
    with _conf(
        spark,
        **{
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.enabled": "false",
        },
    ):
        nodes_b, edges_b = run_materialize(triples, _stats_blind(emap), cfg)
        assert "SortMergeJoin" in _plan(edges_b)
        blind_edges = sorted(map(tuple, edges_b.collect()))
        blind_nodes = sorted(map(tuple, nodes_b.collect()))
    nodes, edges = run_materialize(triples, emap, cfg)
    assert sorted(map(tuple, edges.collect())) == blind_edges
    assert sorted(map(tuple, nodes.collect())) == blind_nodes


def test_denormalize_endpoints_gate_degrades_to_shuffle_join(spark, sf_dir):
    """The exported O4 helper (VERDICT r3 weak #1): a provably-small node
    dim keeps the broadcast; a stats-less (corpus-sized at scale) dim
    degrades to a shuffle join with identical results — never an
    asserted hint that would OOM."""
    from kg.materialize import denormalize_endpoints

    nodes = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").cast("string").alias("id"),
        F.lit("customer").alias("label"),
        F.col("c_mktsegment").alias("partition_key"),
    )
    edges = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").cast("string").alias("id"),
        F.col("o_custkey").cast("string").alias("out_id"),
        F.col("o_custkey").cast("string").alias("in_id"),
    )
    with _conf(
        spark,
        **{
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.enabled": "false",
        },
    ):
        hinted = denormalize_endpoints(edges, nodes)
        assert "BroadcastHashJoin" in _plan(hinted)
        blind = denormalize_endpoints(edges, _stats_blind(nodes))
        p = _plan(blind)
        assert "BroadcastHashJoin" not in p and "SortMergeJoin" in p
        assert sorted(map(tuple, blind.collect())) == sorted(
            map(tuple, hinted.collect())
        )


def test_exclude_generate_filter_inference_idempotent_and_appending(spark):
    from kg.hints import _INFER_GEN_RULE, exclude_generate_filter_inference

    key = "spark.sql.optimizer.excludedRules"
    before = spark.conf.get(key, None)
    try:
        # the session fixture comes from get_spark, which already applies
        # the guard — the rule must be present and a second call a no-op
        exclude_generate_filter_inference(spark)
        cur = spark.conf.get(key, None)
        assert cur is not None and cur.count(_INFER_GEN_RULE) == 1
        exclude_generate_filter_inference(spark)
        assert spark.conf.get(key, None) == cur
        # appending preserves other exclusions
        spark.conf.set(key, "some.other.Rule")
        exclude_generate_filter_inference(spark)
        assert spark.conf.get(key, None) == "some.other.Rule," + _INFER_GEN_RULE
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


def test_generate_filter_inference_exclusion_preserves_results(spark):
    """Same gram rows with and without the optimizer rule — the guard is
    a plan-shape change only."""
    from pyspark.sql import functions as F

    from kg.ops.curate import _gram_hashes

    key = "spark.sql.optimizer.excludedRules"
    before = spark.conf.get(key, None)
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "c d e f g h"), (3, "x"), (4, "")],
        ["doc_id", "text"],
    )
    try:
        spark.conf.unset(key)
        with_rule = sorted(
            map(tuple, _gram_hashes(df, ["doc_id"], "text", 3).collect())
        )
        spark.conf.set(key, "org.apache.spark.sql.catalyst.optimizer."
                            "InferFiltersFromGenerate")
        without_rule = sorted(
            map(tuple, _gram_hashes(df, ["doc_id"], "text", 3).collect())
        )
        assert with_rule == without_rule and len(with_rule) == 7
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)
