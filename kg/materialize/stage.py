"""Materialize stage: triples + entity_map → GraphSON-style nodes/edges.

Node kinds (all ids deterministic sha256 — resume/golden tests depend on
content-derived ids, never monotonically_increasing_id):

* ``file``       one per source file; pk = repo; properties carry the raw
                 ``id`` key (exercises the O9 reserved rename → ``prop_id``)
                 and the sorted imports array (exercises O10 array→JSON).
* ``class_def``  one per class defined in a file; pk = repo.
* ``module`` / ``class`` / ``function``  canonical entities; the id is the
                 component's canonical mention id; pk is a 2-hex-char
                 bucket of the id (256 synthetic partitions — entities are
                 global, not repo-local).

Edge rows mirror the reference's 8-field GremlinEdge (Migrator.cs:142-154):
``edge_``-prefixed id (O11), label = predicate, endpoint label+pk
denormalized (O4), plus FLAT provenance columns (repo/path/commit/lang/
content_sha incl. the content_sha lineage invariant).  The GraphSON
property bag (Migrator.cs:93) is assembled at READ time by
``as_graphson_edges`` — maps shuffle and encode terribly (repeated keys,
one mixed-domain parquet chunk), so the storage layout is columnar-flat
and the document shape is a projection.

Plan-shape notes (scale + latency):
* each output is ONE scan of triples, left-joined once to entity_map
  (``_resolved``): vocabulary-sized, so broadcast under the
  ``maybe_broadcast`` gate.  The join key (the object's mention id) is
  null on defines-class rows, whose object is a class the file defines,
  not an entity mention; off the broadcast path those rows share one
  shuffle partition, which AQE's skew join splits;
* nodes: every triple emits its 0-3 node contributions (its file, the
  class it defines, its object entity) as structs through
  ``explode(filter(array(...)))``, and ONE ``groupBy(id, label)``
  aggregates all kinds — file metadata via ``first``, imports or entity
  surfaces via ``collect_set`` — instead of one groupBy per kind and a
  union.  Ids of different kinds cannot collide (sha of disjoint
  prefixes), so grouping on them equals the union of per-kind groups;
* edges are pure projections over the resolved triples — zero shuffles
  until the partitioned write; a defines-class row picks its class_def
  endpoint with ``when``;
* no dropDuplicates anywhere: ids are unique by construction — file/class
  subjects embed repo:path (unique per source row), entity ids are
  canonical mention ids (grouped), and edge ids hash (out,label,in,repo,
  path) of already-unique triples.  Each removed dedup is a full-table
  shuffle that would dominate at 10^12-file scale.

Two regimes, one entry.  For a corpus of a few thousand files the plan
above is mostly fixed cost: 7 Spark jobs, two shuffles, ~2,300 py4j
calls to plan it and the JIT compiling the Spark code it runs.  The
pipeline's entry, ``materialize_tables``, counts the triples from the
table's parquet footers; while they fit the driver budget
(``kg.hints.DEFAULT_MAX_BYTES // _TRIPLE_ROW_BYTES``, 32,768 triples)
``kg.materialize.driver.driver_materialize`` computes the same rows,
``pk_bucket`` included, in Python over Arrow columns, and the pipeline
writes them with no Spark job; above it this plan runs.  It logs one
``materialize_path`` event: ``path`` ("driver" or "spark") and
``triples``.  Materialize alone, redone over warm restart builds of
kg.datagen corpora (``local[4]``, 4-core host, median of three; wall /
process CPU of driver and JVM, s):

    files    triples    Spark plan     driver
      600      5,850    1.80 / 5.93    0.47 / 0.78
    6,000     58,711    2.48 / 7.26    2.19 / 2.49
   20,000    195,680    3.69 / 11.64   5.74 / 6.15

The driver's wall grows ~26 µs per triple against the plan's ~9, so
they cross near 75k triples; the gate is a memory bound below that.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.dataset as ds
from pyspark.sql import Column, DataFrame, functions as F

from kg import hints
from kg.conf import PipelineConfig
from kg.hints import maybe_broadcast
from kg.ids import mention_id
from kg.lineage import bucket_col
from kg.log import log_event
from kg.materialize.documents import (
    edge_namespace,
    json_array,
    rename_reserved_keys,
)
from kg.materialize.driver import driver_materialize
from kg.schemas import ENTITY_MAP, PREDICATES, TRIPLES

# a file node's properties from its provenance, and the edge provenance
_FILE_META = ("path", "commit", "lang", "content_sha")
_PROVENANCE = ("repo", *_FILE_META)


def _entity_bucket(id_col):
    """Synthetic partition key for global entity nodes: 2 hex chars."""
    return F.substring(id_col, 1, 2)


def _class_id() -> Column:
    """class_def node id of a defines-class row (class defined in a file)."""
    return F.sha2(
        F.concat_ws(":", F.lit("class"), F.col("repo"), F.col("path"), F.col("obj")),
        256,
    )


def _resolved(triples: DataFrame, em: DataFrame) -> DataFrame:
    """``triples`` plus the object's entity kind ``obj_kind`` and
    canonical id ``obj_canonical``, both null where the object is not an
    entity mention.  calls-function objects are entities too, but
    unlinked (kind='function', canonical = own mention id)."""
    pred = F.col("pred")
    kind = F.when(pred == "imports-of", F.lit("module")).when(
        pred == "extends", F.lit("class")
    ).when(pred == "calls-function", F.lit("function"))
    # mention_id applies the same surface truncation the link stage used
    # when minting ids — a long surface must probe entity_map with the
    # identical key or canonicalization silently misses (kg.ids).
    t = triples.withColumn("obj_kind", kind).withColumn(
        "obj_mention",
        F.when(kind.isNotNull(), mention_id(F.col("obj_kind"), F.col("obj"))),
    )
    return t.join(em, "obj_mention", "left").withColumn(
        "obj_canonical", F.coalesce("obj_canonical", "obj_mention")
    )


def _nodes(resolved: DataFrame, pk: str) -> DataFrame:
    """One row per node from one aggregation (module docstring)."""
    null = F.lit(None).cast("string")

    def contribution(cond, id_, label, pk_val, item=null, subj=null,
                     name=null, prov=False):
        # one struct type for every kind: ``item`` is a file's import or
        # an entity's surface, collected per node; the rest is per-node
        # metadata, taken with ``first``
        return F.when(cond, F.struct(
            id_.alias("id"), label.alias("label"),
            pk_val.alias("partition_key"), item.alias("item"),
            subj.alias("subj"), name.alias("name"),
            *[(F.col(c) if prov else null).alias(c) for c in _FILE_META],
        ))

    file_ = contribution(
        F.col("subj").startswith("file:"), F.sha2(F.col("subj"), 256),
        F.lit("file"), F.col(pk),
        item=F.when(F.col("pred") == "imports-of", F.col("obj")),
        subj=F.col("subj"), prov=True,
    )
    class_def = contribution(
        F.col("pred") == "defines-class", _class_id(), F.lit("class_def"),
        F.col(pk), subj=F.col("subj"), name=F.col("obj"),
    )
    entity = contribution(
        F.col("obj_kind").isNotNull(), F.col("obj_canonical"),
        F.col("obj_kind"), _entity_bucket(F.col("obj_canonical")),
        item=F.col("obj"),
    )
    grouped = (
        resolved.select(F.explode(F.filter(
            F.array(file_, class_def, entity), lambda n: n.isNotNull()
        )).alias("n"))
        .select("n.*")
        .groupBy("id", "label")
        .agg(
            *[F.first(c).alias(c) for c in (
                "partition_key", "subj", "name", *_FILE_META
            )],
            F.collect_set("item").alias("items"),
        )
    )
    label = F.col("label")
    props = F.when(label == "file", F.create_map(
        F.lit("id"), F.col("subj"),
        F.lit("path"), F.col("path"),
        F.lit("commit"), F.col("commit"),
        F.lit("lang"), F.col("lang"),
        F.lit("content_sha"), F.col("content_sha"),
        F.lit("imports"), json_array(F.col("items")),
    )).when(label == "class_def", F.create_map(
        F.lit("name"), F.col("name"),
        F.lit("file"), F.col("subj"),
    )).otherwise(F.create_map(
        F.lit("surfaces"), json_array(F.col("items")),
        F.lit("kind"), label,
    ))
    return grouped.select(
        "id", "label", "partition_key",
        rename_reserved_keys(props).alias("properties"),
    )


def _edges(resolved: DataFrame, pk: str) -> DataFrame:
    """One edge per triple: pure projections, no shuffle."""
    is_def = F.col("pred") == "defines-class"
    subj_is_file = F.col("subj").startswith("file:")
    edges = resolved.select(
        F.sha2(F.col("subj"), 256).alias("out_id"),
        F.when(subj_is_file | is_def, F.lit("file"))
        .otherwise(F.lit("class_def")).alias("out_label"),
        F.col(pk).alias("out_pk"),
        F.col("pred").alias("label"),
        F.when(is_def, _class_id())
        .otherwise(F.col("obj_canonical")).alias("in_id"),
        F.when(is_def, F.lit("class_def"))
        .otherwise(F.col("obj_kind")).alias("in_label"),
        F.when(is_def, F.col(pk))
        .otherwise(_entity_bucket(F.col("obj_canonical"))).alias("in_pk"),
        # raw surface keeps the edge id unique even when two variant
        # surfaces in one file canonicalize to the same entity (one edge
        # per extracted triple instance — no dedup shuffle needed)
        F.col("obj").alias("surface"),
        *_PROVENANCE,
    )
    return edges.withColumn(
        "id",
        edge_namespace(
            F.sha2(
                F.concat_ws(
                    "|", "out_id", "label", "in_id", "surface", "repo", "path"
                ),
                256,
            )
        ),
    ).select(
        "id", "label", "out_id", "in_id", "out_label", "in_label",
        "out_pk", "in_pk",
        # provenance stays FLAT through shuffle + parquet: a
        # map<string,string> bag repeats its keys in every row, mixes all
        # value domains into one parquet column chunk (kills dictionary
        # encoding) and dominated materialize's shuffle bytes — the r1
        # scaling bottleneck.  The GraphSON property bag is a zero-shuffle
        # READ-TIME projection: kg.materialize.documents.as_graphson_edges.
        *_PROVENANCE,
    )


# provenance columns a user may choose as the partition key (the Spark
# mapping of the reference's single user-chosen pk path, CosmosDb.cs:88-90,
# read back at :46 and threaded into the edge query at Neo4j.cs:70)
_PK_CHOICES = ("repo", "path", "commit", "lang")


def _partition_key(cfg: PipelineConfig) -> str:
    if cfg.partition_key not in _PK_CHOICES:
        raise ValueError(
            f"partition_key must be one of {_PK_CHOICES}, "
            f"got {cfg.partition_key!r}"
        )
    return cfg.partition_key


def run_materialize(
    triples: DataFrame,
    entity_map: DataFrame,
    cfg: PipelineConfig,
) -> tuple[DataFrame, DataFrame]:
    """triples + entity_map → (nodes, edges) document DataFrames.

    ``cfg.partition_key`` names the provenance column used as the sink
    partition key for file/class nodes and edge endpoints — the reference
    threads exactly one such user-chosen key through DDL and the edge
    query (``CosmosDb.cs:46``, ``Migrator.cs:122``, ``Neo4j.cs:70``
    ``a.{partitionKey}, b.{partitionKey}``).  Canonical entity nodes are
    global (no provenance), so they keep the synthetic 2-hex bucket pk.
    """
    pk = _partition_key(cfg)
    # entity_map is vocabulary-sized TODAY, but distinct surfaces grow with
    # the corpus (10^12 files → plausibly 10^8 rows); the broadcast hint is
    # therefore GATED on Catalyst's size estimate (parquet-backed input →
    # real bytes). Unknown/over-budget → no hint, AQE picks the join.
    em = maybe_broadcast(
        entity_map.select(
            F.col("mention_id").alias("obj_mention"),
            F.col("canonical_id").alias("obj_canonical"),
        )
    )
    nodes = _nodes(_resolved(triples, em), pk)
    edges = _edges(
        _resolved(triples.filter(F.col("pred").isin(*PREDICATES)), em), pk
    )
    return nodes, edges


# driver memory per triple of the driver path, measured on a 6,000-file
# kg.datagen corpus (58.7k triples): a tracemalloc peak of 1,600 B per
# triple (Python column lists, node groups, edge rows) plus ~510 B of
# Arrow buffers (input and output tables).  DEFAULT_MAX_BYTES over it
# puts the gate at 32,768 triples (module docstring)
_TRIPLE_ROW_BYTES = 2048


def _dataset(path: str, schema) -> ds.Dataset:
    """A table the pipeline wrote, as a pyarrow dataset of ``schema``'s
    string columns (its bucket dirs walked, ``.crc`` and ``_SUCCESS``
    files skipped)."""
    return ds.dataset(
        path, format="parquet",
        schema=pa.schema([(f.name, pa.string()) for f in schema]),
    )


def materialize_tables(
    triples: DataFrame, entity_map: DataFrame, cfg: PipelineConfig
) -> tuple[DataFrame | pa.Table, DataFrame | pa.Table]:
    """(nodes, edges) of the pipeline's ``triples`` and ``entity_map``
    tables (``cfg.table_path``), each with its ``pk_bucket`` column
    (``bucket_col`` of the partition key over ``cfg.lineage_buckets``).

    Chooses the regime (module docstring): while the triples, counted
    from the table's parquet footers, fit the driver budget
    (``kg.hints.DEFAULT_MAX_BYTES // _TRIPLE_ROW_BYTES``, read at call
    time), Arrow tables computed by ``driver_materialize`` with no Spark
    job; above it, ``run_materialize``'s plan over the given frames.
    Logs one ``materialize_path`` event: ``path`` ("driver" or "spark")
    and ``triples``."""
    b = cfg.lineage_buckets
    source = _dataset(cfg.table_path("triples"), TRIPLES)
    n = source.count_rows()  # footers only
    if n <= hints.DEFAULT_MAX_BYTES // _TRIPLE_ROW_BYTES:
        log_event("materialize_path", path="driver", triples=n)
        return driver_materialize(
            source.to_table(),
            _dataset(cfg.table_path("entity_map"), ENTITY_MAP).to_table(),
            _partition_key(cfg), b,
        )
    log_event("materialize_path", path="spark", triples=n)
    nodes, edges = run_materialize(triples, entity_map, cfg)
    return (
        nodes.withColumn("pk_bucket", bucket_col("partition_key", n_buckets=b)),
        edges.withColumn("pk_bucket", bucket_col("out_pk", n_buckets=b)),
    )
