"""Link stage: entity mentions → matched pairs (MinHash-LSH + scorer).

Pipeline (SURVEY.md §2.1 "link"):

    triples ──► mentions (distinct surfaces of imports-of / extends objects)
            ──► char-shingle sets (JVM-side, F.transform over substrings)
            ──► MinHash signatures: explode(shingles) × seeds, seeded
                F.xxhash64, groupBy(mention, seed).min  — all JVM/codegen
            ──► LSH banding: groupBy(mention, band) → band key
            ──► candidate pairs: self-join on (band, band_key), a < b
            ──► scorer: Jaccard via array_intersect/array_union (JVM) +
                embedding dot over per-MENTION embeddings computed once
                (mapInPandas over the vocabulary) — zero per-pair Python

Everything except the per-mention embedding stays inside whole-stage codegen.
The LSH band self-join is the only quadratic-risk spot; a bucket-size cap
drops degenerate stop-surface buckets (web-scale guard, documented below).

Two regimes, one entry.  Link works on the mention VOCABULARY, not the
corpus, and for a vocabulary of a few thousand rows the Spark plan above
is mostly fixed cost: ~12 scheduled jobs.  ``match_pairs`` therefore
collects the mentions first, at most one row past the budget
(``kg.hints.DEFAULT_MAX_BYTES // _MENTION_ROW_BYTES``, ~65k mentions; shingle
hashes computed map-side, so Python needs no Spark-compatible xxhash64).
When they all fit, ``_driver_matches`` runs signatures
(``kg.ops.minhash.minhash_fold``, the UDF's own fold), banding, the bucket
cap, scoring (``_embed_batches`` + the dot in ``_dot``'s fold order) and
the match filter in numpy; otherwise the Spark plan runs.  Either way
link logs one ``link_path`` event: ``path`` ("driver" or "spark") and
``mentions`` (the vocabulary size; None on the Spark path, which does
not count it).  The two paths' rows are equal bit for bit, floats
included, with one documented exception: Spark keys a band bucket on
``xxhash64`` of the comma-joined signature slice, the driver on the raw
slice, so the two differ only if two different slices of one (kind,
band) collide in 64 bits.

The budget is a memory bound, not a speed crossover: link + canonicalize
on planted vocabularies of 3k, 10k, 30k, 65k and 100k mentions took a
median 2.2 / 3.4 / 6.3 / 12.0 / 19.2 s wall on the driver against
7.4 / 8.7 / 11.8 / 21.0 / 35.1 s as Spark jobs (``local[4]``, 4-core
host, three runs each), so no speed crossover lies below it.  Past it,
the Spark path spreads a vocabulary that no longer fits the one-process
budget over the executors.
"""

from __future__ import annotations

import functools
import itertools
from collections import defaultdict

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from kg import hints
from kg.conf import PipelineConfig
from kg.ids import mention_id, truncated_surface
from kg.log import log_event

# the library's one dot-product definition (IEEE fold order is part of
# the similarity module's oracle contract — no second copy to drift)
from kg.ops.similarity import _dot
# LSH buckets larger than this are dropped: at 10^12-file scale a huge
# bucket means a degenerate surface (e.g. "utils"), and the quadratic
# pair blow-up inside it would dominate the job. Real systems cap this.
_MAX_BUCKET = 64


def _norm_col(col):
    return F.lower(F.regexp_replace(col, r"[^A-Za-z0-9]+", ""))


def _shingles_col(norm, k: int):
    """char k-gram shingle set of a normalized surface, JVM-side."""
    n = F.length(norm)
    idx = F.sequence(F.lit(1), F.greatest(n - k + 1, F.lit(1)))
    return F.array_distinct(
        F.when(n <= k, F.array(norm)).otherwise(
            F.transform(idx, lambda i: norm.substr(i, F.lit(k)))
        )
    )


def mentions_from_triples(triples: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Distinct entity mentions: objects of imports-of (modules) and
    extends (classes).  mention_id is content-derived (sha256) so it is
    deterministic across runs — never monotonically_increasing_id
    (resume + golden tests depend on this)."""
    kinds = F.when(F.col("pred") == "imports-of", F.lit("module")).otherwise(
        F.lit("class")
    )
    m = (
        triples.filter(F.col("pred").isin("imports-of", "extends"))
        .select(
            truncated_surface(F.col("obj")).alias("surface"),
            kinds.alias("kind"),
        )
        .distinct()
        .withColumn("norm", _norm_col(F.col("surface")))
        .withColumn("mention_id", mention_id(F.col("kind"), F.col("surface")))
        .withColumn("shingles", _shingles_col(F.col("norm"), cfg.shingle_size))
    )
    return m.select("mention_id", "surface", "norm", "kind", "shingles")


def candidate_pairs(mentions: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """MinHash-LSH blocking, entirely JVM-side (kg.ops.minhash).

    rows: |mentions| × |shingles| × P after the seed explode — bounded by
    the *distinct-surface vocabulary*, not the corpus, so this is orders of
    magnitude smaller than the triple set at any scale.  Blocking on
    ``kind`` keeps module and class mention spaces separate.
    """
    from kg.ops.minhash import minhash_candidate_pairs

    return minhash_candidate_pairs(
        mentions,
        id_col="mention_id",
        shingles_col="shingles",
        perms=cfg.minhash_perms,
        bands=cfg.lsh_bands,
        max_bucket=_MAX_BUCKET,
        group_cols=["kind"],
    )


_EMB_DIM = 32
# per-mention payload model for the driver path's budget: shingle array
# (~20 × ~10 B strings + Arrow overhead) + 32 doubles + a 64-char id
# ≈ 1 KB — so the 64 MB budget admits ~65k mentions on the driver; past
# that the Spark plan spreads the vocabulary over the executors.
_MENTION_ROW_BYTES = 1024


@functools.lru_cache(maxsize=1 << 16)
def _shingle_vec(s: str) -> "np.ndarray":
    """The hash-seeded random vector of one shingle, read-only.  Memoized
    across calls (and, in a reused Python worker, across tasks): building
    the RNG is the cost, and all 36³ ``[a-z0-9]`` trigrams fit the cache."""
    import numpy as np

    rng = np.random.default_rng(
        int.from_bytes(s.encode()[:8].ljust(8, b"\0"), "big")
    )
    v = rng.standard_normal(_EMB_DIM)
    v.flags.writeable = False
    return v


def _embed_batches(batches) -> "pd.DataFrame":
    """One embedding per MENTION (not per pair): deterministic
    hash-seeded random projection of the shingle set, normalized.  A
    stand-in with the exact Spark plumbing (Arrow batches in, array
    column out) a learned encoder would use — swap the body for a model
    without touching the plan.  Shingle vectors come from
    ``_shingle_vec``'s cache: the shingle vocabulary is tiny relative to
    its usage count."""
    import numpy as np

    for pdf in batches:
        out = np.zeros((len(pdf), _EMB_DIM))
        for i, sh in enumerate(pdf["shingles"]):
            if sh is None or len(sh) == 0:
                continue
            v = np.sum([_shingle_vec(s) for s in sh], axis=0)
            n = np.linalg.norm(v)
            out[i] = v / n if n > 0 else v
        yield pd.DataFrame(
            {
                "mention_id": pdf["mention_id"],
                "shingles": pdf["shingles"],
                "emb": list(out),
            }
        )


def score_pairs(
    pairs: DataFrame, mentions: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """Jaccard (JVM array ops) + embedding dot (JVM zip_with/aggregate)
    per pair.  Embeddings are computed ONCE per mention (mapInPandas,
    vocabulary-sized input) and carried as an array column into the pair
    join — the scorer itself does zero per-pair Python.

    The embedded vocabulary is checkpointed: without it the
    un-materialized mapInPandas plan would be EXECUTED TWICE, once per
    join side.  No broadcast hint: ``match_pairs`` runs this plan only
    for a vocabulary past the one-process budget, so the join strategy
    is Catalyst's and AQE's to choose."""
    embedded = mentions.select("mention_id", "shingles").mapInPandas(
        _embed_batches,
        schema="mention_id string, shingles array<string>, emb array<double>",
    ).localCheckpoint()
    ma = embedded.select(
        F.col("mention_id").alias("a"),
        F.col("shingles").alias("sh_a"),
        F.col("emb").alias("emb_a"),
    )
    mb = embedded.select(
        F.col("mention_id").alias("b"),
        F.col("shingles").alias("sh_b"),
        F.col("emb").alias("emb_b"),
    )
    scored = (
        pairs.join(ma, "a")
        .join(mb, "b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        # embeddings are normalized → dot IS the cosine
        .withColumn("emb_score", _dot(F.col("emb_a"), F.col("emb_b")))
        .withColumn(
            "is_match",
            (F.col("jaccard") >= cfg.jaccard_threshold)
            | (F.col("emb_score") >= cfg.embedding_threshold),
        )
        .select("a", "b", "jaccard", "emb_score", "is_match")
    )
    return scored


def add_shingles(mentions: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Re-derive the shingle column map-side from the stored ``norm``.

    Shingles are a pure function of ``norm`` (no shuffle), so a mentions
    table read back from storage regains them for free — which lets the
    pipeline materialize the corpus-sized distinct exactly ONCE as the
    durable mentions table instead of localCheckpoint + a second write
    of the same data (VERDICT r4 #5 fixed-cost list)."""
    return mentions.withColumn(
        "shingles", _shingles_col(F.col("norm"), cfg.shingle_size)
    )


def match_pairs(mentions: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """mentions (with shingles) → scored match pairs above threshold: on
    the driver when the vocabulary fits the budget, as Spark jobs
    otherwise (module docstring).  The size probe is the driver path's
    own collect, bounded at one row past the budget, which is read at
    call time."""
    from kg.ops.minhash import xxhash64_base

    cap = hints.DEFAULT_MAX_BYTES // _MENTION_ROW_BYTES
    pdf = mentions.select(
        "mention_id", "kind", "shingles",
        F.transform("shingles", xxhash64_base).alias("_hs"),
    ).limit(cap + 1).toPandas()
    if len(pdf) > cap:
        log_event("link_path", path="spark", mentions=None)
        pairs = candidate_pairs(mentions, cfg)
        return score_pairs(pairs, mentions, cfg).filter(F.col("is_match"))
    log_event("link_path", path="driver", mentions=len(pdf))
    return _driver_matches(pdf, mentions.sparkSession, cfg)


# the scorer's output columns: the Spark path's schema, so the driver
# path writes the same table (also when it has no rows)
_MATCH_SCHEMA = (
    "a string, b string, jaccard double, emb_score double, is_match boolean"
)


def _driver_matches(
    pdf: "pd.DataFrame", spark, cfg: PipelineConfig
) -> DataFrame:
    """``match_pairs``' rows from its collected mentions (``mention_id,
    kind, shingles`` and the shingles' base hashes ``_hs``), in numpy."""
    import numpy as np

    from kg.ops.minhash import minhash_fold

    ids, kinds = pdf["mention_id"].to_numpy(), pdf["kind"].tolist()
    # signatures of the mentions with shingles (the Arrow UDF drops the
    # rest), then buckets keyed on (kind, band, signature slice)
    signed = [
        (i, np.asarray(h, dtype=np.int64))
        for i, h in enumerate(pdf["_hs"]) if h is not None and len(h)
    ]
    sigs = minhash_fold([h for _, h in signed], cfg.minhash_perms)
    r = cfg.minhash_perms // cfg.lsh_bands
    buckets = defaultdict(list)
    for (i, _), sig in zip(signed, sigs):
        for band in range(cfg.lsh_bands):
            slice_ = sig[band * r:(band + 1) * r].tobytes()
            buckets[kinds[i], band, slice_].append(i)
    # the bucket cap, then distinct pairs ordered a < b by mention id
    pairs = sorted({
        (i, j) if ids[i] < ids[j] else (j, i)
        for members in buckets.values() if len(members) <= _MAX_BUCKET
        for i, j in itertools.combinations(members, 2)
    })
    cols = {c: [] for c in ("a", "b", "jaccard", "emb_score", "is_match")}
    if pairs:
        ai, bi = (np.array(c, dtype=np.int64) for c in zip(*pairs))
        sh = [set(s) for s in pdf["shingles"]]
        jaccard = np.array(
            [len(sh[i] & sh[j]) / len(sh[i] | sh[j]) for i, j in pairs]
        )
        emb = np.stack(next(_embed_batches([pdf]))["emb"])
        # _dot's fold order: acc = acc + a[k]·b[k], left to right from 0.0
        dot = np.zeros(len(pairs))
        for k in range(_EMB_DIM):
            dot = dot + emb[ai, k] * emb[bi, k]
        keep = (jaccard >= cfg.jaccard_threshold) | (
            dot >= cfg.embedding_threshold
        )
        cols = {
            "a": ids[ai[keep]], "b": ids[bi[keep]], "jaccard": jaccard[keep],
            "emb_score": dot[keep], "is_match": keep[keep],
        }
    # a pandas frame crosses into the JVM as Arrow: writing 3.5k matches
    # took ~0.1 s this way, ~0.5 s from a list of tuples (4-core host)
    return spark.createDataFrame(pd.DataFrame(cols), _MATCH_SCHEMA).coalesce(1)
