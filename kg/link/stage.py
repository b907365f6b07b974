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

Two regimes, one output.  Link works on the mention VOCABULARY, not the
corpus, and at the sizes the scorer already broadcasts whole
(``n_mentions × _MENTION_ROW_BYTES ≤ kg.hints.DEFAULT_MAX_BYTES``, ~65k
mentions) the Spark plan above is mostly fixed cost: ~12 scheduled jobs
for a few thousand rows.  Below that gate the pipeline runs
``driver_match_pairs`` instead: one Arrow collect of the mentions (shingle
hashes computed map-side, so Python needs no Spark-compatible xxhash64),
then signatures (``kg.ops.minhash.minhash_fold``, the UDF's own fold),
banding, the bucket cap, scoring (``_embed_batches`` + the dot in
``_dot``'s fold order) and the match filter in numpy.  Its rows equal
``match_pairs``' bit for bit, floats included, with one documented
exception: Spark keys a band bucket on ``xxhash64`` of the comma-joined
signature slice, the driver on the raw slice, so the two differ only if
two different slices of one (kind, band) collide in 64 bits.  Above the
gate ``match_pairs`` runs unchanged.

The gate is a memory bound, not a speed crossover: link + canonicalize
on planted vocabularies of 3k, 10k, 30k, 65k and 100k mentions took a
median 2.2 / 3.4 / 6.3 / 12.0 / 19.2 s wall on the driver against
7.4 / 8.7 / 11.8 / 21.0 / 35.1 s as Spark jobs (``local[4]``, 4-core
host, three runs each), so no speed crossover lies below the gate.
Past it, the Spark path spreads a vocabulary that no longer fits the
one-process budget over the executors.
"""

from __future__ import annotations

import itertools
from collections import defaultdict

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from kg.conf import PipelineConfig
from kg.hints import broadcast_if_small, fits_budget
from kg.ids import mention_id, truncated_surface

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
# per-mention payload model for the broadcast gate: shingle array (~20
# × ~10 B strings + Arrow/UnsafeRow overhead) + 32 doubles + a 64-char id
# ≈ 1 KB — so the 64 MB budget admits ~65k mentions; past that the scorer
# join degrades to a shuffle join instead of an executor OOM.
_MENTION_ROW_BYTES = 1024


def scorer_broadcasts(n_mentions: int) -> bool:
    """Whether ``score_pairs`` broadcasts an ``n_mentions`` vocabulary
    whole: the budget test ``broadcast_if_small`` applies there, and the
    pipeline's gate for the driver path (module docstring)."""
    return fits_budget(n_mentions, _MENTION_ROW_BYTES)


def _embed_batches(batches) -> "pd.DataFrame":
    """One embedding per MENTION (not per pair): deterministic
    hash-seeded random projection of the shingle set, normalized.  A
    stand-in with the exact Spark plumbing (Arrow batches in, array
    column out) a learned encoder would use — swap the body for a model
    without touching the plan.  Shingle vectors are memoized per batch:
    the shingle vocabulary is tiny relative to its usage count, so the
    RNG construction cost is amortized away (the previous design built a
    fresh RNG per shingle per PAIR — the link stage's wall at vocabulary
    growth, VERDICT r1)."""
    import numpy as np

    cache: dict[str, "np.ndarray"] = {}

    def vec(s: str) -> "np.ndarray":
        v = cache.get(s)
        if v is None:
            rng = np.random.default_rng(
                int.from_bytes(s.encode()[:8].ljust(8, b"\0"), "big")
            )
            v = rng.standard_normal(_EMB_DIM)
            cache[s] = v
        return v

    for pdf in batches:
        out = np.zeros((len(pdf), _EMB_DIM))
        for i, sh in enumerate(pdf["shingles"]):
            if sh is None or len(sh) == 0:
                continue
            v = np.sum([vec(s) for s in sh], axis=0)
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

    The mentions side is vocabulary-sized TODAY, but the vocabulary grows
    with the corpus — the broadcast hint is gated on the row count (paid
    for once: the checkpoint materializes the embeddings anyway, so the
    count scans cached blocks; without the checkpoint the un-materialized
    mapInPandas plan would be EXECUTED TWICE, once per join side)."""
    embedded = mentions.select("mention_id", "shingles").mapInPandas(
        _embed_batches,
        schema="mention_id string, shingles array<string>, emb array<double>",
    ).localCheckpoint()
    n_mentions = embedded.count()
    ma = broadcast_if_small(
        embedded.select(
            F.col("mention_id").alias("a"),
            F.col("shingles").alias("sh_a"),
            F.col("emb").alias("emb_a"),
        ),
        n_mentions,
        _MENTION_ROW_BYTES,
    )
    mb = broadcast_if_small(
        embedded.select(
            F.col("mention_id").alias("b"),
            F.col("shingles").alias("sh_b"),
            F.col("emb").alias("emb_b"),
        ),
        n_mentions,
        _MENTION_ROW_BYTES,
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
    """mentions (with shingles) → scored match pairs above threshold."""
    pairs = candidate_pairs(mentions, cfg)
    scored = score_pairs(pairs, mentions, cfg)
    return scored.filter(F.col("is_match"))


# the scorer's output columns: the Spark path's schema, so the driver
# path writes the same table (also when it has no rows)
_MATCH_SCHEMA = (
    "a string, b string, jaccard double, emb_score double, is_match boolean"
)


def driver_match_pairs(mentions: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """``match_pairs`` computed on the driver (module docstring): same
    rows, one collect instead of ~12 jobs.  For vocabularies inside the
    scorer's broadcast budget, which the caller gates on."""
    import numpy as np

    from kg.ops.minhash import minhash_fold, xxhash64_base

    pdf = mentions.select(
        "mention_id", "kind", "shingles",
        F.transform("shingles", xxhash64_base).alias("_hs"),
    ).toPandas()
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
    spark = mentions.sparkSession
    return spark.createDataFrame(pd.DataFrame(cols), _MATCH_SCHEMA).coalesce(1)


def run_link(triples: DataFrame, cfg: PipelineConfig) -> tuple[DataFrame, DataFrame]:
    """Stage entry: triples → (mentions, scored match pairs).

    mentions is vocabulary-sized but derives from a corpus-sized distinct;
    it feeds candidate generation AND both sides of the scorer join, so it
    is materialized once (localCheckpoint — GC-freed blocks, unlike a
    persist nobody can unpersist) — otherwise every consumer re-scans the
    full triple set.  (The pipeline uses the durable mentions write as
    the materialization instead — see ``add_shingles``.)
    """
    mentions = mentions_from_triples(triples, cfg).localCheckpoint()
    return mentions, match_pairs(mentions, cfg)
