"""Materialization invariant tests — the Spark analogue of the reference's
unit tests (NeoToCosmos.Unit.Tests/MigratorTests.cs:45-63 reserved rename,
:65-86 array→JSON) plus the edge/node document contract."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from kg.conf import PipelineConfig
from kg.datagen import source_files_df
from kg.extract import run_extract
from kg.link import match_pairs, mentions_from_triples
from kg.canonicalize import run_canonicalize
from kg.materialize import (
    as_graphson_edges,
    denormalize_endpoints,
    edge_namespace,
    json_array,
    rename_reserved_keys,
    run_materialize,
)

N = 80


@pytest.fixture(scope="module")
def graph(spark):
    cfg = PipelineConfig()
    triples = run_extract(source_files_df(spark, N)).cache()
    mentions = mentions_from_triples(triples, cfg).localCheckpoint()
    emap = run_canonicalize(mentions, match_pairs(mentions, cfg))
    nodes, edges = run_materialize(triples, emap, cfg)
    return triples, emap, nodes.cache(), edges.cache()


def test_reserved_rename_unit(spark):
    df = spark.createDataFrame([(1,)], "x int").select(
        rename_reserved_keys(
            F.create_map(
                F.lit("id"), F.lit("v1"),
                F.lit("_etag"), F.lit("v2"),
                F.lit("name"), F.lit("v3"),
            )
        ).alias("m")
    )
    m = df.first().m
    assert m == {"prop_id": "v1", "prop__etag": "v2", "name": "v3"}


def test_array_to_json_unit(spark):
    df = spark.createDataFrame([(["b", "a"],)], "arr array<string>").select(
        json_array("arr").alias("j")
    )
    j = df.first().j
    assert j.startswith("[") and j.endswith("]")  # MigratorTests.cs:65-86
    assert json.loads(j) == ["a", "b"]  # sorted → deterministic


def test_edge_prefix_unit(spark):
    v = spark.range(1).select(edge_namespace(F.lit("abc")).alias("e")).first().e
    assert v == "edge_abc"


def test_all_edge_ids_prefixed(graph):
    _, _, _, edges = graph
    assert edges.filter(~F.col("id").startswith("edge_")).count() == 0


def test_node_edge_id_spaces_disjoint(graph):
    _, _, nodes, edges = graph
    ids = nodes.select("id").union(edges.select("id"))
    assert ids.count() == ids.distinct().count()


def test_no_reserved_property_keys(graph):
    _, _, nodes, edges = graph
    for df in (nodes, as_graphson_edges(edges)):
        bad = df.select(F.explode(F.map_keys("properties")).alias("k")).filter(
            F.col("k").isin("id", "_rid", "_self", "_ts", "_etag")
        )
        assert bad.count() == 0
    # the raw 'id' property survived under prop_
    assert (
        nodes.filter(F.col("label") == "file")
        .filter(F.col("properties").getItem("prop_id").isNotNull())
        .count()
        > 0
    )


def test_file_imports_property_is_json_array(graph):
    _, _, nodes, _ = graph
    row = (
        nodes.filter(F.col("label") == "file")
        .select(F.col("properties").getItem("imports").alias("imp"))
        .filter(F.col("imp") != "[]")
        .first()
    )
    parsed = json.loads(row.imp)
    assert isinstance(parsed, list) and parsed == sorted(parsed)


def test_edges_reference_existing_nodes(graph):
    _, _, nodes, edges = graph
    node_ids = {r.id for r in nodes.select("id").collect()}
    for r in edges.select("out_id", "in_id").collect():
        assert r.out_id in node_ids and r.in_id in node_ids


def test_endpoint_denormalization_consistent(graph):
    """out_label/out_pk/in_label/in_pk on each edge equal the joined node
    attributes — i.e. our construction shortcut agrees with the generic
    O4 edge⋈node⋈node join."""
    _, _, nodes, edges = graph
    joined = denormalize_endpoints(
        edges.select("id", "out_id", "in_id"), nodes
    )
    both = joined.alias("j").join(edges.alias("e"), "id")
    mismatch = both.filter(
        (F.col("j.out_label") != F.col("e.out_label"))
        | (F.col("j.in_label") != F.col("e.in_label"))
        | (F.col("j.out_pk") != F.col("e.out_pk"))
        | (F.col("j.in_pk") != F.col("e.in_pk"))
    )
    assert mismatch.count() == 0


def test_content_sha_survives_to_edges(graph):
    triples, _, _, edges = graph
    src_shas = {r.content_sha for r in triples.select("content_sha").distinct().collect()}
    # flat storage column AND the GraphSON projection both carry it
    edge_shas = {r.content_sha for r in edges.select("content_sha").distinct().collect()}
    doc_shas = {
        r.sha
        for r in as_graphson_edges(edges).select(
            F.col("properties").getItem("content_sha").alias("sha")
        ).distinct().collect()
    }
    assert edge_shas == src_shas == doc_shas


def test_graphson_edge_projection_shape(graph):
    """The document projection restores the reference's 8-field GremlinEdge
    + property bag exactly (Migrator.cs:142-154), while storage stays
    columnar-flat."""
    _, _, _, edges = graph
    docs = as_graphson_edges(edges)
    assert docs.columns == [
        "id", "label", "out_id", "in_id", "out_label", "in_label",
        "out_pk", "in_pk", "properties",
    ]
    row = docs.first()
    assert set(row.properties) == {"repo", "path", "commit", "lang", "content_sha"}


def test_partition_key_is_threaded(spark):
    """O18/reference parity: the user-chosen partition key (CosmosDb.cs:46,
    Neo4j.cs:70 a.{pk}, b.{pk}) must reach file/class nodes and edge
    endpoints — KG_PARTITION_KEY=commit means pk IS the commit."""
    cfg = PipelineConfig(partition_key="commit")
    triples = run_extract(source_files_df(spark, 20)).cache()
    mentions = mentions_from_triples(triples, cfg).localCheckpoint()
    emap = run_canonicalize(mentions, match_pairs(mentions, cfg))
    nodes, edges = run_materialize(triples, emap, cfg)

    files = nodes.filter(F.col("label") == "file").select(
        "partition_key", F.col("properties").getItem("commit").alias("commit")
    )
    assert files.count() > 0
    assert files.filter(F.col("partition_key") != F.col("commit")).count() == 0
    # edges: out endpoint pk must be the commit of the provenance row
    bad = edges.join(
        triples.select("commit").distinct().withColumnRenamed("commit", "c"),
        edges.out_pk == F.col("c"),
        "left_anti",
    )
    assert bad.count() == 0
    with pytest.raises(ValueError):
        run_materialize(triples, emap, PipelineConfig(partition_key="nope"))


def test_long_surface_resolves_through_entity_map(spark):
    """Regression: mention ids are minted over a truncated surface
    (kg.ids.MAX_SURFACE); materialize must probe entity_map with the SAME
    truncation or long-surface objects never canonicalize."""
    import hashlib

    from kg.ids import MAX_SURFACE, mention_id  # noqa: F401

    long_obj = "verylongmodule" + "x" * 300  # > MAX_SURFACE
    expected_mid = hashlib.sha256(
        f"module:{long_obj[:MAX_SURFACE]}".encode()
    ).hexdigest()
    triples = spark.createDataFrame(
        [
            ("file:r:p.py", "imports-of", long_obj, "r", "p.py", "c0", "python", "sha0"),
        ],
        "subj string, pred string, obj string, repo string, path string, "
        "commit string, lang string, content_sha string",
    )
    emap = spark.createDataFrame(
        [(expected_mid, "CANON")], "mention_id string, canonical_id string"
    )
    nodes, edges = run_materialize(triples, emap, PipelineConfig())
    # the edge must land on the canonical entity, proving the entity_map
    # join hit (pre-fix it probed with the untruncated hash and missed)
    assert [r.in_id for r in edges.collect()] == ["CANON"]
    assert nodes.filter(F.col("id") == "CANON").count() == 1


def test_each_output_is_one_scan_of_triples(spark, tmp_path):
    """Each output's executed plan scans triples once; nodes group every
    node kind in one aggregation, and edges aggregate nothing."""
    cfg = PipelineConfig()
    run_extract(source_files_df(spark, 20)).write.parquet(str(tmp_path / "t"))
    triples = spark.read.parquet(str(tmp_path / "t"))
    mentions = mentions_from_triples(triples, cfg).localCheckpoint()
    run_canonicalize(mentions, match_pairs(mentions, cfg)).write.parquet(
        str(tmp_path / "em")
    )
    emap = spark.read.parquet(str(tmp_path / "em"))
    nodes, edges = run_materialize(triples, emap, cfg)
    for df, aggregations in ((nodes, 1), (edges, 0)):
        df.collect()
        qe = df._jdf.queryExecution()
        final = qe.executedPlan().toString().split("== Initial Plan ==")[0]
        # triples is the one scan reading subj (entity_map reads ids)
        assert final.count("FileScan parquet [subj#") == 1
        assert qe.optimizedPlan().toString().count("Aggregate [") == aggregations


def test_linked_variants_share_canonical_node(graph):
    """'requests' / 'Requests' / 'requests.py' must resolve to ONE module
    node whose surfaces property lists the variants."""
    _, _, nodes, _ = graph
    mods = nodes.filter(F.col("label") == "module").select(
        F.col("properties").getItem("surfaces").alias("s")
    )
    surf_sets = [json.loads(r.s) for r in mods.collect()]
    hit = [s for s in surf_sets if "requests" in s]
    assert len(hit) == 1 and {"requests", "Requests"} <= set(hit[0])
