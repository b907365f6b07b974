"""Fixed StructType schemas for every stage.

The reference is schemaless (dynamic ``IDictionary<string,object>`` property
bags, ``NeoToCosmos/Migrator.cs:93``); our engine declares a fixed schema per
stage and confines dynamism to ``map<string,string>`` property-bag columns
(values pre-stringified; array values JSON-stringified at materialization,
mirroring ``Migrator.cs:104-107``).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# input: Iceberg-shaped source_files table (BASELINE.json input_hint)
# ---------------------------------------------------------------------------
SOURCE_FILES = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("content", T.StringType(), False),
    ]
)

# ---------------------------------------------------------------------------
# extract stage output: (subj, pred, obj) + provenance + lineage invariant
# (content_sha survives the pipeline unchanged — input_hint per-row invariant)
# ---------------------------------------------------------------------------
TRIPLES = T.StructType(
    [
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("content_sha", T.StringType(), False),
    ]
)

PREDICATES = ("imports-of", "defines-class", "calls-function", "extends")

# ---------------------------------------------------------------------------
# link stage
# ---------------------------------------------------------------------------
MENTIONS = T.StructType(
    [
        T.StructField("mention_id", T.StringType(), False),
        T.StructField("surface", T.StringType(), False),
        T.StructField("norm", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),  # module | class
    ]
)

CANDIDATE_PAIRS = T.StructType(
    [
        T.StructField("a", T.StringType(), False),
        T.StructField("b", T.StringType(), False),
    ]
)

SCORED_PAIRS = T.StructType(
    [
        T.StructField("a", T.StringType(), False),
        T.StructField("b", T.StringType(), False),
        T.StructField("jaccard", T.DoubleType(), False),
        T.StructField("emb_score", T.DoubleType(), False),
        T.StructField("is_match", T.BooleanType(), False),
    ]
)

ENTITY_MAP = T.StructType(
    [
        T.StructField("mention_id", T.StringType(), False),
        T.StructField("canonical_id", T.StringType(), False),
    ]
)

# ---------------------------------------------------------------------------
# materialize stage: GraphSON-style documents, reference-parity invariants
# (Migrator.cs:85-91 vertices, :142-154 edges; edge_ prefix :144; prop_
# renames :19,:98-101; first label :87; endpoint label+pk denormalized
# Neo4j.cs:70)
# ---------------------------------------------------------------------------
NODES = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("partition_key", T.StringType(), False),
        T.StructField("properties", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

# edges are stored FLAT (provenance as top-level columns — maps repeat
# keys per row and defeat parquet dictionary encoding); the GraphSON
# property-bag document shape is a read-time projection
# (kg.materialize.documents.as_graphson_edges)
EDGES = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("out_id", T.StringType(), False),
        T.StructField("in_id", T.StringType(), False),
        T.StructField("out_label", T.StringType(), False),
        T.StructField("in_label", T.StringType(), False),
        T.StructField("out_pk", T.StringType(), False),
        T.StructField("in_pk", T.StringType(), False),
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("content_sha", T.StringType(), False),
    ]
)

# reserved Cosmos-document property names (Migrator.cs:19)
RESERVED_PROPERTY_NAMES = ("id", "_rid", "_self", "_ts", "_etag")

# ---------------------------------------------------------------------------
# lineage / resume (generalizes Cache.cs:36-44 page checkpoints)
# ---------------------------------------------------------------------------
LINEAGE = T.StructType(
    [
        T.StructField("stage", T.StringType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("rows_in", T.LongType(), False),
        T.StructField("rows_out", T.LongType(), False),
        T.StructField("input_fp", T.StringType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("duration_ms", T.LongType(), False),
    ]
)
