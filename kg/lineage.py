"""Per-partition lineage + idempotent resume.

Generalizes the reference's checkpoint store (RocksDB KV holding one page
high-water-mark per element kind per shard, ``NeoToCosmos/Cache.cs:36-44``,
``Migrator.cs:66-68,80-81``) into a lineage *table*: one row per
(stage, bucket) with row counts, an order-insensitive input fingerprint
and a status — the Spark-native analogue of "simply rerun the command to
resume" (reference ``README.md:42``).

The table is O(buckets) rows of METADATA, so every bookkeeping operation
is DRIVER-SIDE pyarrow — zero Spark jobs.  The r1-r3 store ran reads,
anti-join probes and rewrites as distributed jobs: ~14 scheduled jobs per
pipeline run whose fixed scheduling cost fell straight through to fleet
scaling efficiency (the same failure mode — and the same fix — as r3's
parquet-footer bucket stats; a trivial-corpus pipeline ran 77 Spark jobs,
most of them metadata).  The reference reads its RocksDB checkpoints
in-process for the identical reason.  Spark appears in exactly two
places: ``read()`` returns a Spark DataFrame for external consumers, and
``changed_buckets`` collects a caller-supplied per-bucket fingerprint
aggregate — which is real data work, not bookkeeping.

Resume protocol per stage:
  1. work is split into deterministic buckets (``pmod(xxhash64(keys), B)``);
  2. a rerun anti-joins buckets already recorded ``done`` (O16);
  3. bucket outputs are written with dynamic partition overwrite, so a
     crash between data write and lineage append just rewrites that bucket
     byte-identically on the next run (idempotent upsert semantics, the
     Spark mapping of the reference's BulkExecutor ``enableUpsert:true``,
     ``CosmosDb.cs:144``);
  4. ``--restart`` truncates outputs + lineage (O15/O17,
     ``CosmosDb.cs:101-118``, ``Cache.cs:24-34``).
"""

from __future__ import annotations

import glob
import os
import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession, functions as F

from kg.schemas import LINEAGE

_PA_SCHEMA = pa.schema(
    [
        ("stage", pa.string()),
        ("bucket", pa.int32()),
        ("rows_in", pa.int64()),
        ("rows_out", pa.int64()),
        ("input_fp", pa.string()),
        ("status", pa.string()),
        ("duration_ms", pa.int64()),
    ]
)
_COLS = [f.name for f in _PA_SCHEMA]


def bucket_col(*key_cols: str, n_buckets: int):
    """Deterministic work bucket: stable across runs and cluster sizes."""
    return F.pmod(F.xxhash64(*key_cols), F.lit(n_buckets)).cast("int")


_M64 = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (
    0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
    0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5,
)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _lane(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def _xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` as an unsigned int: Spark's ``XXH64.hashUnsafeBytes``
    (``F.xxhash64``'s seed is 42), lanes read little-endian."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed,
             (seed - _P1) & _M64]
        while i + 32 <= n:
            v = [_lane(v[j], int.from_bytes(data[i + 8 * j:i + 8 * j + 8],
                                            "little")) for j in range(4)]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
             + _rotl(v[3], 18)) & _M64
        for x in v:
            h = ((h ^ _lane(0, x)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        k = _lane(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h ^ k, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        k = int.from_bytes(data[i:i + 4], "little") * _P1 & _M64
        h = (_rotl(h ^ k, 23) * _P2 + _P3) & _M64
        i += 4
    for b in data[i:]:
        h = _rotl(h ^ (b * _P5 & _M64), 11) * _P1 & _M64
    h = (h ^ (h >> 33)) * _P2 & _M64
    h = (h ^ (h >> 29)) * _P3 & _M64
    return h ^ (h >> 32)


def bucket_of(key: str, n_buckets: int) -> int:
    """``bucket_col`` of one string key, computed in Python."""
    h = _xxh64(key.encode())
    return (h - (1 << 64) if h >> 63 else h) % n_buckets


class LineageStore:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    # -- storage primitives (driver-side, zero Spark jobs) -----------------
    def _files(self) -> list[str]:
        # *.parquet only: the dir may hold a Spark _SUCCESS marker (tests
        # and older versions wrote through Spark; both layouts coexist)
        return sorted(glob.glob(os.path.join(self.path, "*.parquet")))

    def _read_table(self) -> pa.Table:
        """The whole table; files of older layouts (with columns since
        dropped, e.g. ``content_sha_xor``) read as the current one."""
        self._recover()
        files = self._files() if os.path.exists(self.path) else []
        if not files:
            return _PA_SCHEMA.empty_table()
        tables = [pq.read_table(f) for f in files]
        return pa.concat_tables(
            [t.select(_COLS).cast(_PA_SCHEMA) for t in tables]
        )

    def _rows(self, stage: str | None = None, done_only: bool = False):
        """Lineage rows as a list of dicts (the table is O(buckets))."""
        rows = self._read_table().to_pylist()
        if stage is not None:
            rows = [r for r in rows if r["stage"] == stage]
        if done_only:
            rows = [r for r in rows if r["status"] == "done"]
        return rows

    def _append(self, rows: list[dict]) -> None:
        os.makedirs(self.path, exist_ok=True)
        table = pa.Table.from_pylist(rows, schema=_PA_SCHEMA)
        pq.write_table(
            table, os.path.join(self.path, f"part-{uuid.uuid4().hex}.parquet")
        )

    # -- external read surface (Spark, for consumers of the table) --------
    def read(self) -> DataFrame:
        self._recover()
        if os.path.exists(self.path) and self._files():
            return self.spark.read.schema(LINEAGE).parquet(self.path)
        return self.spark.createDataFrame([], LINEAGE)

    def _recover(self) -> None:
        """Complete or roll back an interrupted ``_rewrite_keeping``.

        The rewrite's durability point is ``.tmp/_SUCCESS``: once the new
        table is fully written, recovery rolls FORWARD (swap the new
        table in), never backward — so an invalidation survives a crash
        in any later window regardless of the rerun's flags.  The r3
        rollback-only recovery silently resurrected changed-fingerprint
        drops when the interrupted ``detect_changes`` run was followed by
        a default rerun, which never re-derives that trigger (ADVICE r3).
        A ``.tmp`` without ``_SUCCESS`` is a partial write: discard it
        and roll back to ``.old`` if the live table is gone."""
        tmp, old = self.path + ".tmp", self.path + ".old"
        if os.path.exists(os.path.join(tmp, "_SUCCESS")):
            shutil.rmtree(self.path, ignore_errors=True)
            os.rename(tmp, self.path)
        else:
            shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.exists(self.path) and os.path.exists(old):
                os.rename(old, self.path)
        shutil.rmtree(old, ignore_errors=True)

    def completed_buckets(self, stage: str) -> set[int]:
        return {r["bucket"] for r in self._rows(stage, done_only=True)}

    def changed_buckets(self, stage: str, cur_fp: DataFrame) -> set[int]:
        """Buckets whose recorded input fingerprint differs from the
        current one (changed-input merge; ``cur_fp``: bucket, cur_fp —
        a Spark aggregate over the source, collected here: that scan is
        real data work and stays distributed).  A ``done`` record WITHOUT
        a fingerprint (written by a run with detect_changes off, which
        skips the content-column scan) cannot prove its input unchanged,
        so it is conservatively treated as changed and re-extracted once
        — after which it carries one."""
        cur = {r["bucket"]: r["cur_fp"] for r in cur_fp.collect()}
        out = set()
        for r in self._rows(stage, done_only=True):
            if r["bucket"] in cur and (
                r["input_fp"] is None or r["input_fp"] != cur[r["bucket"]]
            ):
                out.add(r["bucket"])
        return out

    def _rewrite_keeping(self, keep_fn) -> None:
        """Rewrite the lineage table keeping rows where ``keep_fn(row)``
        is true, CRASH-SAFELY: the new table is written next to the live
        one (``.tmp`` + ``_SUCCESS`` durability marker) and swapped in
        with atomic renames.  A reset-then-write would have a window
        where a crash leaves NO lineage at all — the next run would
        re-extract the entire corpus, a catastrophic resume regression in
        exactly the module whose contract is crash-resume.  ``_recover``
        (run before every read) completes an interrupted swap forward
        once the new table is durable, else rolls back."""
        kept = [r for r in self._rows() if keep_fn(r)]
        tmp, old = self.path + ".tmp", self.path + ".old"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)
        os.makedirs(tmp)
        pq.write_table(
            pa.Table.from_pylist(kept, schema=_PA_SCHEMA),
            os.path.join(tmp, "part-00000.parquet"),
        )
        # durability point: from here recovery rolls the swap FORWARD
        with open(os.path.join(tmp, "_SUCCESS"), "w"):
            pass
        if os.path.exists(self.path):
            os.rename(self.path, old)
        os.rename(tmp, self.path)
        shutil.rmtree(old, ignore_errors=True)

    def invalidate_buckets(self, stage: str, buckets: set[int]) -> None:
        """Drop lineage rows for changed buckets so the rerun re-records
        them (the table is O(buckets) rows — a rewrite is trivial)."""
        self._rewrite_keeping(
            lambda r: not (r["stage"] == stage and r["bucket"] in buckets)
        )

    def invalidate_stages(self, *stages: str) -> None:
        """Drop ALL lineage rows for the given stages — used when a
        stage's inputs changed (e.g. extract produced new output, so
        every previously-done materialize bucket is stale).  No-op when
        nothing is recorded for them."""
        hit = set(stages)
        if not any(r["stage"] in hit for r in self._rows()):
            return
        self._rewrite_keeping(lambda r: r["stage"] not in hit)

    def stage_done(self, stage: str) -> bool:
        return bool(self.completed_buckets(stage))

    def record_buckets(
        self,
        stage: str,
        per_bucket: list[dict],
        duration_ms: int,
    ) -> None:
        """Append one ``done`` row per bucket of ``per_bucket``: dicts of
        (bucket, rows_in, rows_out[, input_fp]) the caller holds
        driver-side (footer counts, source stats, stage markers)."""
        self._append(
            [
                {
                    "stage": stage,
                    "bucket": int(r["bucket"]),
                    "rows_in": int(r["rows_in"]),
                    "rows_out": int(r["rows_out"]),
                    "input_fp": r.get("input_fp"),
                    "status": "done",
                    "duration_ms": int(duration_ms),
                }
                for r in per_bucket
            ]
        )

    def record_stage(
        self,
        stage: str,
        rows_in: int,
        rows_out: int,
        duration_ms: int,
        input_fp: str | None = None,
    ) -> None:
        self.record_buckets(
            stage,
            [
                {
                    "bucket": 0,
                    "rows_in": rows_in,
                    "rows_out": rows_out,
                    "input_fp": input_fp,
                }
            ],
            duration_ms,
        )

    def stage_input_fp(self, stage: str) -> str | None:
        """Recorded input fingerprint of a stage-level (single-bucket)
        record, or None when absent — None reads as "cannot prove
        unchanged" (same conservative contract as changed_buckets)."""
        for r in self._rows(stage, done_only=True):
            if r["bucket"] == 0:
                return r["input_fp"]
        return None

    def reset(self) -> None:
        """O17: truncate all checkpoints on --restart (Cache.cs:24-34).

        Also removes the ``_rewrite_keeping`` scratch dirs: a crash after
        the ``.tmp/_SUCCESS`` durability point leaves a complete
        pre-restart table in ``.tmp``, and the next ``_recover()`` would
        roll it FORWARD over the reset — resurrecting "done" lineage for
        outputs --restart just truncated (every stage would then skip
        over missing tables)."""
        shutil.rmtree(self.path, ignore_errors=True)
        shutil.rmtree(self.path + ".tmp", ignore_errors=True)
        shutil.rmtree(self.path + ".old", ignore_errors=True)


class StageTimer:
    """A stage's wall time (``ms``) and the generated-code classes the
    JVM compiled meanwhile (``compiles``, from Spark's codegen metrics).
    A warm op finds its classes in the codegen cache
    (``kg.session.CODEGEN_CACHE_ENTRIES``) and compiles none, so a
    nonzero count on a rerun shows the cache thrashing again."""

    def __init__(self, spark: SparkSession):
        metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._compiled = metrics.METRIC_COMPILATION_TIME()

    def __enter__(self):
        self.c0 = self._compiled.getCount()
        self.t0 = time.monotonic()
        return self

    def __exit__(self, *exc):
        self.ms = int((time.monotonic() - self.t0) * 1000)
        self.compiles = self._compiled.getCount() - self.c0
        return False
