"""Materialize's driver regime (``kg.materialize.driver``) writes the
Spark plan's rows: the Python XXH64 bucket equals ``bucket_col``, and
``driver_materialize`` equals ``run_materialize`` (plus the pipeline's
``pk_bucket``) for every partition key choice."""

from __future__ import annotations

import hashlib
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from kg.conf import PipelineConfig
from kg.ids import MAX_SURFACE
from kg.lineage import _xxh64, bucket_col, bucket_of
from kg.materialize import driver_materialize, run_materialize
from kg.materialize.stage import _PK_CHOICES

GOLDENS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "goldens")
B = 64


def test_bucket_of_equals_bucket_col(spark):
    """Every XXH64 branch (<4, 4-7, 8-31 and ≥32 bytes, 32-byte stripes
    plus tails), ASCII and multi-byte UTF-8, a bucket count that is not
    a power of two (pmod of a negative hash)."""
    keys = [
        (unit * 100)[:k] for unit in ("abcdefghij", "é", "漢字", "a😀b")
        for k in range(0, 101)
    ]
    keys = sorted(set(k for k in keys if len(k.encode()) <= 100))
    assert {len(k.encode()) for k in keys} >= set(range(0, 101))
    rows = spark.createDataFrame([(k,) for k in keys], "k string").select(
        "k", F.xxhash64("k").alias("h"),
        bucket_col("k", n_buckets=B).alias("b64"),
        bucket_col("k", n_buckets=7).alias("b7"),
    ).collect()
    for r in rows:
        h = _xxh64(r.k.encode())
        assert (h - (1 << 64) if h >> 63 else h) == r.h, r.k
        assert (bucket_of(r.k, B), bucket_of(r.k, 7)) == (r.b64, r.b7), r.k


def _spark_rows(spark, triples, emap, pk):
    nodes, edges = run_materialize(
        spark.createDataFrame(triples.to_pandas()),
        spark.createDataFrame(emap.to_pandas()),
        PipelineConfig(partition_key=pk),
    )
    return (
        _rows(nodes.withColumn(
            "pk_bucket", bucket_col("partition_key", n_buckets=B)
        ).toArrow()),
        _rows(edges.withColumn(
            "pk_bucket", bucket_col("out_pk", n_buckets=B)
        ).toArrow()),
    )


def _rows(table: pa.Table) -> list[tuple]:
    """Sorted rows, map entries in their stored order."""
    return sorted(
        tuple((k, tuple(v) if isinstance(v, list) else v)
              for k, v in r.items())
        for r in table.to_pylist()
    )


def _driver_rows(triples, emap, pk):
    return tuple(map(_rows, driver_materialize(triples, emap, pk, B)))


@pytest.fixture(scope="module")
def golden():
    """The 200-file golden corpus's triples and entity map."""
    return (
        pq.read_table(os.path.join(GOLDENS, "golden_triples_200.parquet")),
        pq.read_table(os.path.join(GOLDENS, "golden_entity_map_200.parquet")),
    )


@pytest.mark.parametrize("pk", _PK_CHOICES)
def test_driver_rows_equal_spark_plan_on_golden_corpus(spark, golden, pk):
    want = _spark_rows(spark, *golden, pk)
    got = _driver_rows(*golden, pk)
    assert len(got[0]) > 600 and len(got[1]) == golden[0].num_rows
    assert got == want


def _surface_corpus() -> tuple[pa.Table, pa.Table]:
    """Triples whose surfaces need JSON escaping (quote, backslash, a
    control character other than the short escapes, newline), non-ASCII,
    a surface past ``MAX_SURFACE`` and one named ``id``; an entity map
    that canonicalizes some of them (the long one through its truncated
    mention id), and a predicate that makes no edge."""
    long = "pkg." + "x" * (MAX_SURFACE + 40)
    surfaces = ['quo"te', "back\\slash", "ctl\x01\x1f", "new\nline",
                "ünïcödé", "漢字", long, "id", "Requests", "requests"]
    rows = []
    for i, (repo, path) in enumerate([("r0", "a.py"), ("r1", "b/é.py")]):
        subj = f"file:{repo}:{path}"
        meta = (repo, path, f"c{i}", "python", f"sha{i}")
        rows += [(subj, "imports-of", s, *meta) for s in surfaces]
        rows += [(subj, "calls-function", s, *meta) for s in surfaces[:3]]
        rows += [(subj, "defines-class", "K\"1", *meta),
                 (subj, "defines-function", "f", *meta),
                 (f"class:{repo}:{path}:K\"1", "extends", "Base\\é", *meta)]
    cols = ("subj", "pred", "obj", "repo", "path", "commit", "lang",
            "content_sha")
    triples = pa.table(dict(zip(cols, map(list, zip(*rows)))))

    def mid(kind, s):
        return hashlib.sha256(f"{kind}:{s[:MAX_SURFACE]}".encode()).hexdigest()

    canon = mid("module", "requests")
    emap = pa.table({
        "mention_id": [mid("module", "Requests"), mid("module", long),
                       mid("class", "Base\\é")],
        "canonical_id": [canon, "Z", mid("class", "Base\\é")],
    })
    return triples, emap


@pytest.mark.parametrize("pk", _PK_CHOICES)
def test_driver_rows_equal_spark_plan_on_hard_surfaces(spark, pk):
    triples, emap = _surface_corpus()
    want = _spark_rows(spark, triples, emap, pk)
    got = _driver_rows(triples, emap, pk)
    assert got == want
    props = [dict(r[3][1]) for r in got[0] if r[1][1] == "file"]
    assert props and all("prop_id" in p and "id" not in p for p in props)
    # Jackson's escapes: uppercase \u00XX for the other control chars
    assert r'"ctl\u0001\u001F"' in props[0]["imports"]
