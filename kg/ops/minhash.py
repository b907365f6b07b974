"""Generic MinHash-LSH candidate generation, entirely JVM-side.

Shared by entity linking (kg.link) and document dedup (kg.ops.dedup).

Scale design: the naive formulation (explode shingles × P seed rows) blows
row count up P-fold before the shuffle.  Instead each shingle is hashed
ONCE (``xxhash64``) inside its row's array, and the P permutations are
affine maps ``(a_i * h + b_i) mod PRIME`` taken as ``array_min`` over
per-row transforms of that bound hash array — the signature never leaves
the row, so there is NO signature shuffle at all (the previous explode →
P projected columns → map-side-combined groupBy computed the same values
but moved |shingle rows| × P longs).  One shuffle for band buckets, one
bucket self-join.

All constants are hash-derived (deterministic across runs/executors).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, functions as F

# prime > any minhash value; small enough that a*h+b stays < 2^63 (ANSI-safe)
_PRIME = 1_000_000_007


def _affine_params(i: int) -> tuple[int, int]:
    d = hashlib.sha256(f"minhash:{i}".encode()).digest()
    a = 1 + int.from_bytes(d[:8], "big") % (_PRIME - 1)
    b = int.from_bytes(d[8:16], "big") % _PRIME
    return a, b


def minhash_signature_cols(h: Column, perms: int) -> list[Column]:
    """P permuted hash columns from one base hash column.  Kept as the
    row-wise form of the affine family for callers with pre-exploded
    hashes; ``minhash_candidate_pairs`` itself uses the in-array form
    (same constants, same values, no explode)."""
    out = []
    for i in range(perms):
        a, b = _affine_params(i)
        out.append(F.pmod(h * F.lit(a) + F.lit(b), F.lit(_PRIME)).alias(f"m{i}"))
    return out


def xxhash64_base(col: Column) -> Column:
    """Default base hash: JVM xxhash64, bounded to [0, PRIME).  Fastest,
    but Spark-specific — operators built on it are rows-only checkable."""
    return F.pmod(F.xxhash64(col), F.lit(_PRIME))


def md5_60(col: Column) -> Column:
    """Top 60 bits of md5 as a non-negative long — THE engine-portable
    hash primitive every `_portable` oracle twin in the library builds
    on (DuckDB: ``('0x' || substring(md5(s), 1, 15))::UBIGINT``).  One
    definition: the portability contract requires the simhash, minhash
    and winnowing call sites to stay byte-identical with their SQL
    replicas, so none of them inlines its own copy."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5_base(col: Column) -> Column:
    """Engine-portable base hash: the top 60 bits of md5, bounded to
    [0, PRIME).  DuckDB computes the identical value via
    ``('0x' || substring(md5(s), 1, 15))::UBIGINT % PRIME`` — which is
    what makes a FULL SQL oracle possible for the minhash family.
    Costs an md5 per shingle instead of an xxhash64; use for
    verification twins, keep xxhash64 in the 100 TB path."""
    return F.pmod(md5_60(col), F.lit(_PRIME))


# peak transient of the Arrow signature fold is CHUNK×perms int64
# (~64 MB at 128k×64) per python worker: chunked like the simhash fold
# so memory stays bounded regardless of document length or batch size
_SIG_CHUNK_TOKENS = 128 * 1024


def minhash_fold(
    rows: list, perms: int, chunk_tokens: int = _SIG_CHUNK_TOKENS
):
    """``(len(rows), perms)`` int64 MinHash signatures of non-empty int64
    base-hash arrays: ``sig[i, p] = min((a_p·h + b_p) mod PRIME)`` over
    the hashes ``h`` of ``rows[i]``.  The one definition of the signature
    arithmetic, shared by the Arrow UDF below and the driver-side link
    (``kg.link.stage._driver_matches``).

    Exact int64: h < PRIME and a_p < PRIME keep a_p·h + b_p < 2^63, so
    numpy computes the same integers the JVM does.  ``perms`` fused
    vectorized ops over the concatenated hash buffer + one
    ``minimum.reduceat`` per chunk of ≤ ``chunk_tokens`` hashes (a row
    longer than that is one chunk)."""
    import numpy as np

    params = [_affine_params(i) for i in range(perms)]
    a_vec = np.array([p[0] for p in params], dtype=np.int64)
    b_vec = np.array([p[1] for p in params], dtype=np.int64)
    n = len(rows)
    lens = np.fromiter((len(r) for r in rows), dtype=np.int64, count=n)
    sigs = np.empty((n, perms), dtype=np.int64)
    lo = 0
    while lo < n:
        hi, tok = lo, 0
        while hi < n and (tok == 0 or tok + lens[hi] <= chunk_tokens):
            tok += lens[hi]
            hi += 1
        flat = np.concatenate(rows[lo:hi])
        vals = (flat[:, None] * a_vec + b_vec) % _PRIME
        starts = np.zeros(hi - lo, dtype=np.int64)
        np.cumsum(lens[lo:hi][:-1], out=starts[1:])
        sigs[lo:hi] = np.minimum.reduceat(vals, starts, axis=0)
        lo = hi
    return sigs


def _minhash_sig_arrow(
    hashed: DataFrame,
    id_col: str,
    group_cols: list[str],
    perms: int,
    chunk_tokens: int = _SIG_CHUNK_TOKENS,
) -> DataFrame:
    """(id, group…, _hs array<long>) → (id, group…, sig array<long>):
    all ``perms`` affine-permutation minima in one vectorized numpy pass
    (``minhash_fold``).

    Bit-identical to the expr engine (equivalence-tested).  The expr
    form pays ~perms × |shingles| *interpreted lambda invocations* per
    document (the dominant term of the minhash family at bench scale,
    guide §4.2); here the same arithmetic is ``perms`` fused vectorized
    ops per batch.

    Rows with an empty (or null) hash array are dropped HERE, inside the
    Python barrier, not by a JVM filter: a ``where(size(...) >= 1)``
    stacked on the un-materialized shingle expression makes Catalyst
    inline the whole tokenize→shingle chain into both the filter and
    the hash projection (CollapseProject + PushDownPredicates — the
    repo's documented attribute-binding trap), doubling the most
    expensive per-row work of the operator.  mapInPandas is a natural
    projection barrier, so the shingle chain is evaluated exactly
    once."""
    import numpy as np

    fields = ", ".join(
        f"{c} {hashed.schema[c].dataType.simpleString()}"
        for c in (id_col, *group_cols)
    )
    out_schema = f"{fields}, sig array<long>"

    def run(batches):
        import pandas as pd

        for pdf in batches:
            keep = np.fromiter(
                (h is not None and len(h) > 0 for h in pdf["_hs"]),
                dtype=bool,
                count=len(pdf),
            )
            if not keep.any():
                continue
            rows = [
                np.asarray(h, dtype=np.int64) for h in pdf["_hs"][keep]
            ]
            out = {c: pdf[c][keep] for c in (id_col, *group_cols)}
            out["sig"] = list(minhash_fold(rows, perms, chunk_tokens))
            yield pd.DataFrame(out)

    return hashed.select(id_col, *group_cols, "_hs").mapInPandas(
        run, schema=out_schema
    )


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    shingles_col: str,
    perms: int = 64,
    bands: int = 16,
    max_bucket: int = 64,
    group_cols: list[str] | None = None,
    base_hash=xxhash64_base,
    portable_keys: bool = False,
    sig_engine: str = "arrow",
) -> DataFrame:
    """→ (a, b) candidate pairs with a < b.

    ``group_cols``: optional blocking columns (e.g. mention kind) — pairs
    are only generated within equal group values.

    ``base_hash``/``portable_keys``: the default shape (xxhash64 base,
    xxhash64-compressed band keys) is the fast 100 TB path; with
    ``base_hash=md5_base, portable_keys=True`` every intermediate value
    is computable by DuckDB, giving the operator a FULL SQL oracle
    (band keys stay the raw comma-joined signature slice instead of
    being re-hashed — wider shuffle keys, engine-neutral values).

    ``sig_engine``: ``"arrow"`` (default) computes the permutation
    minima with the vectorized numpy pass (``_minhash_sig_arrow`` —
    exact int64, bit-identical); ``"expr"`` keeps the pure-JVM
    ``array_min(transform(...))`` form as the independent cross-check
    and for python-worker-less clusters.
    """
    group_cols = group_cols or []
    r = perms // bands
    if sig_engine not in ("arrow", "expr"):
        raise ValueError(
            f"sig_engine must be 'arrow' or 'expr', got {sig_engine!r}"
        )

    # signatures WITHOUT leaving the row: hash the shingle array once
    # (bound as an attribute so the permutation consumers re-read a row
    # buffer, not re-hash — the winnowing O(L) discipline); each
    # permutation is a min over an affine transform of that array, with
    # the signature never leaving the row in either engine.  The
    # pre-r3 shape (explode shingles → P projected columns → groupBy
    # min) computed the SAME values but shuffled |shingle rows| × P
    # longs through a hash aggregation; both engines here are pure
    # map-side.  Docs with no shingles produce no signature in either
    # engine: the arrow barrier drops them internally (see
    # _minhash_sig_arrow — a JVM size-filter here would re-inline the
    # caller's shingle expression and evaluate it twice); the expr path
    # filters explicitly and is best fed a materialized shingles column.
    hashed_expr = F.transform(F.col(shingles_col), base_hash).alias("_hs")

    if sig_engine == "arrow":
        sig = _minhash_sig_arrow(
            df.select(id_col, *group_cols, hashed_expr),
            id_col, group_cols, perms,
        )
    else:
        hashed = df.where(F.size(F.col(shingles_col)) >= 1).select(
            id_col, *group_cols, hashed_expr
        )
        def _perm_min(i: int) -> Column:
            a, b = _affine_params(i)
            return F.array_min(
                F.transform(
                    F.col("_hs"),
                    lambda h: F.pmod(h * F.lit(a) + F.lit(b), F.lit(_PRIME)),
                )
            )

        sig = hashed.select(
            id_col,
            *group_cols,
            F.array(*[_perm_min(i) for i in range(perms)]).alias("sig"),
        )

    # LSH banding: band key = the band's signature slice (hash-compressed
    # by default, raw concat when portability is required)
    def _key(b: int) -> Column:
        raw = F.concat_ws(
            ",",
            *[
                F.get(F.col("sig"), b * r + j).cast("string")
                for j in range(r)
            ],
        )
        return raw if portable_keys else F.xxhash64(raw)

    band_structs = [
        F.struct(F.lit(b).alias("band"), _key(b).alias("band_key"))
        for b in range(bands)
    ]
    bands_df = (
        sig.select(
            id_col, *group_cols, F.explode(F.array(*band_structs)).alias("bk")
        )
        .select(
            id_col,
            *group_cols,
            F.col("bk.band").alias("band"),
            F.col("bk.band_key").alias("band_key"),
        )
        # consumed 3× (bucket counts + both sides of the self-join);
        # without materialization every consumer recomputes the whole
        # signature pipeline — including the upstream corpus scan.
        # localCheckpoint (not persist): persist() entries live in the
        # CacheManager until an explicit unpersist that no caller can
        # issue (the result is lazy), so repeated invocations in a
        # long-lived session would accumulate blocks; checkpoint blocks
        # are freed by the ContextCleaner once the plan is GC'd.
        .localCheckpoint()
    )
    from kg.ops.similarity import cap_buckets

    # web-scale guard: drop degenerate buckets before the self-join (a huge
    # bucket means a stop-surface; its quadratic pair set would dominate)
    key = [*group_cols, "band", "band_key"]
    bands_df = cap_buckets(bands_df, key, max_bucket)
    x, y = bands_df.alias("x"), bands_df.alias("y")
    cond = F.col(f"x.{id_col}") < F.col(f"y.{id_col}")
    for k in key:
        cond = cond & (F.col(f"x.{k}") == F.col(f"y.{k}"))
    return (
        x.join(y, cond)
        .select(
            F.col(f"x.{id_col}").alias("a"), F.col(f"y.{id_col}").alias("b")
        )
        .distinct()
    )
