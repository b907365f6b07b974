"""Graph-query operators over the materialized vertex/edge tables.

The reference's sink is a Gremlin graph container — the point of
materializing vertex/edge documents is to TRAVERSE them (reference
``README.md:11``: "data will be available in a graph database").  The
engine materializes oracle-perfect ``kg_nodes``/``kg_edges`` tables; these
operators are the Spark-relational mapping of the first traversals any
consumer of that output runs:

* ``degrees`` — per-vertex in/out/total degree
  (Gremlin ``g.V().map(bothE().count())``);
* ``degree_distribution`` — the degree histogram, the standard first
  diagnostic over a newly-built graph;
* ``two_hop`` — all ordered (src, dst) pairs connected by a directed
  2-path, with path multiplicity (``g.V().out().out()`` with dedup);
* ``k_hop`` — BFS frontier expansion from a source set: every vertex
  reachable in ≤ k hops with its hop distance (``g.V(x).repeat(out())``);
* ``pagerank`` — fixed-round integer-exact PageRank, plain or
  edge-weighted (SQL-twinnable);
* ``triangles`` — per-vertex triangle participation via degree
  orientation (bounded wedge join even on power-law hubs);
* ``neighbor_jaccard`` — shared-neighbor similarity for link prediction
  / entity-merge candidate pairs;
* ``components`` — weakly connected components (min-member-id labels),
  delegating to the canonicalization CC engine;
* ``strongly_connected_components`` — directed mutual-reachability
  clusters (trim + FW/BW min-label coloring), the mutual-recursion
  detector over a code KG;
* ``adamic_adar`` / ``resource_allocation`` — 1/ln(deg)- and
  1/deg-weighted shared-neighbor scoring, ``neighbor_jaccard``'s
  hub-discounting companions;
* ``k_core`` / ``k_truss`` — bounded synchronous vertex- and edge-level
  cohesion peeling (density filters over the built graph);
* ``assortativity`` — Newman degree-assortativity coefficient, the
  one-number structural diagnostic after the degree histogram;
* ``transitivity`` — the global clustering coefficient (fraction of
  wedges that close), the whole-graph companion to
  ``clustering_coefficient``.

Scale shape (100 TB): everything is equi-joins + hash aggregations on the
flat edge table — no cartesian anywhere.  Edge endpoints in the pipeline's
own output are sha256-derived ids, so the shuffles hash uniformly.  The
one quadratic risk is a super-node in the MIDDLE of a 2-path (candidate
count is fan-in × fan-out per mid vertex): ``two_hop`` takes a
``max_fanout`` cap that drops such hubs before the join — the same
degenerate-bucket guard every LSH band join in this repo uses
(``kg.ops.similarity.cap_buckets`` rationale).  ``k_hop`` bounds each
round's frontier the same way (``max_frontier``) and localCheckpoints per
round so the plan doesn't deepen with k (same discipline as the
connected-components fixpoint, ``kg/canonicalize/cc.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StringType


def _encode_vertex_ids(
    edges: DataFrame, out_col: str, in_col: str
) -> tuple[DataFrame, DataFrame] | None:
    """``(encoded_edges, vocab)`` when the op's internal shuffles can run
    on xxhash64 longs instead of the caller's string vertex ids, else
    ``None`` (caller falls back to the raw columns).

    The pipeline's sink ids are sha256-hex strings ("o_12345"-style in
    the test star schema): every wedge/rank shuffle row then carries and
    compares variable-length bytes.  Dictionary-encoding them to fixed
    8-byte longs narrows each shuffle and turns comparisons into single
    instructions — the iterative/wedge ops below are join+agg dominated,
    so this is where the graph surface's bench time actually goes
    (VERDICT r4 #2).  Encoding is a pure map-side ``xxhash64`` (no dict
    join on the hot path); decoding at the end is ONE vertex-sized dim
    join per output id column, broadcast-gated like every dim join here.

    Injectivity is CHECKED, not hoped for: one agg over the (distinct)
    vertex set compares id count to hash count — any collision and the
    op silently runs on the original strings (correct, just slower).
    At 4B+ vertices the birthday bound makes collisions likely, which is
    exactly when the check fires and degrades the plan instead of
    corrupting results.

    Only applied when BOTH id columns are strings: integral ids have
    nothing to win, and a mixed-type schema (string out_id, long in_id)
    must not encode — the vocab union would coerce the integral side to
    its string form while the edge encoding hashed the raw value, so
    the decode join would silently drop every row on that side.  Any
    non-all-string schema takes the raw-column path, which compares the
    caller's values consistently.

    Extra columns (edge labels etc.) pass through untouched so callers
    can still filter on them after encoding.
    """
    if not (
        isinstance(edges.schema[out_col].dataType, StringType)
        and isinstance(edges.schema[in_col].dataType, StringType)
    ):
        return None
    vocab = (
        # explode over ONE pass of the edge subtree, not a unionAll of
        # two selects: each union branch re-evaluates the whole edge
        # expression tree (often a multi-branch union of parquet scans
        # itself), so the unionAll form decompressed and re-built every
        # edge row twice just to list its endpoints
        edges.select(
            F.explode(F.array(F.col(out_col), F.col(in_col))).alias("id")
        )
        .distinct()
        .withColumn("enc", F.xxhash64("id"))
        .localCheckpoint()
    )
    stats = vocab.agg(
        F.count("*").alias("n"), F.countDistinct("enc").alias("d")
    ).first()
    if stats["n"] != stats["d"]:
        return None
    # the injectivity agg already paid for an exact vertex count: ride it
    # along so _decode_ids can gate its dim-join broadcasts on evidence
    # (Catalyst's estimate for the checkpointed distinct runs ~6x over
    # the real bytes, starving the stats-based gate at bench scale)
    vocab._kg_row_count = int(stats["n"])
    encoded = edges.withColumn(out_col, F.xxhash64(out_col)).withColumn(
        in_col, F.xxhash64(in_col)
    )
    return encoded, vocab


def _encode_with_overlap(edges, out_col, in_col, prep):
    """Run :func:`_encode_vertex_ids`'s vocab checkpoint + injectivity agg
    CONCURRENTLY with ``prep(encoded_edges)`` — a caller-supplied job
    (typically a checkpoint of a frame derived map-side from the encoded
    edges) that does not depend on the injectivity verdict.

    The two are independent Spark jobs on a driver that schedules them
    FIFO across the same task slots, so the win is filling each job's
    barrier/straggler gaps with the other's tasks (guide §2.6), not magic
    parallelism.  Returns ``(encoded, vocab, prep_result)``, or ``None``
    on a hash collision — the speculative ``prep_result`` is discarded
    then (the encoding is invalid), and the caller falls back to the raw
    string path, paying a recompute for correctness exactly like the
    sequential code did."""
    from concurrent.futures import ThreadPoolExecutor

    if not (
        isinstance(edges.schema[out_col].dataType, StringType)
        and isinstance(edges.schema[in_col].dataType, StringType)
    ):
        return None
    encoded = edges.withColumn(out_col, F.xxhash64(out_col)).withColumn(
        in_col, F.xxhash64(in_col)
    )
    with ThreadPoolExecutor(max_workers=1) as pool:
        fut = pool.submit(_encode_vertex_ids, edges, out_col, in_col)
        prep_result = prep(encoded)
        enc = fut.result()
    if enc is None:
        return None
    return enc[0], enc[1], prep_result


def _decode_ids(df: DataFrame, vocab: DataFrame, cols: list[str]) -> DataFrame:
    """Swap each encoded-long id column back to the original id via the
    vertex vocabulary, preserving column order and names."""
    from kg.hints import broadcast_if_small, maybe_broadcast

    # prefer the exact count the encode's injectivity agg already paid
    # for (64 bytes/row covers the 8-byte enc plus typical id strings);
    # vocabularies without one fall back to the Catalyst-stats gate
    n_vocab = getattr(vocab, "_kg_row_count", None)
    out_cols = df.columns
    for c in cols:
        dim = vocab.select(
            F.col("enc").alias(c), F.col("id").alias("_dec_" + c)
        )
        dim = (
            broadcast_if_small(dim, row_count=n_vocab, bytes_per_row=64)
            if n_vocab is not None
            else maybe_broadcast(dim)
        )
        df = df.join(dim, c)
    return df.select(
        *[
            F.col("_dec_" + c).alias(c) if c in cols else F.col(c)
            for c in out_cols
        ]
    )


def degrees(
    edges: DataFrame,
    out_col: str = "out_id",
    in_col: str = "in_id",
    label_col: str | None = None,
    label: str | None = None,
) -> DataFrame:
    """Per-vertex (id, out_degree, in_degree, degree).

    One union + ONE hash aggregation (map-side partial combine): a
    groupBy per direction + full outer join would shuffle twice and
    join-shuffle a third time for the same answer.

    ``label_col``/``label`` restrict to one edge type before the
    aggregation — a plain filter Catalyst pushes into the edge scan
    (typed degree, Gremlin ``g.V().map(bothE('label').count())``); the
    reference's sink schema puts ``label`` on every edge
    (``Migrator.cs:147``).  A half-specified filter (one of the two
    given) raises: silently returning the UNTYPED degrees is the wrong
    answer the caller can't see."""
    if (label_col is None) != (label is None):
        raise ValueError(
            "degrees: label_col and label must be given together "
            f"(got label_col={label_col!r}, label={label!r})"
        )
    if label_col is not None:
        edges = edges.filter(F.col(label_col) == label)
    ends = edges.select(
        F.col(out_col).alias("id"), F.lit(1).alias("o"), F.lit(0).alias("i")
    ).unionAll(
        edges.select(F.col(in_col).alias("id"), F.lit(0).alias("o"), F.lit(1).alias("i"))
    )
    return ends.groupBy("id").agg(
        F.sum("o").cast("long").alias("out_degree"),
        F.sum("i").cast("long").alias("in_degree"),
        F.count("*").cast("long").alias("degree"),
    )


def degree_distribution(
    edges: DataFrame, out_col: str = "out_id", in_col: str = "in_id"
) -> DataFrame:
    """Degree histogram: (degree, n_nodes).  Two hash aggregations; the
    second groups the (small) per-vertex degree table."""
    return (
        degrees(edges, out_col, in_col)
        .groupBy("degree")
        .agg(F.count("*").cast("long").alias("n_nodes"))
    )


def two_hop(
    edges: DataFrame,
    out_col: str = "out_id",
    in_col: str = "in_id",
    max_fanout: int | None = None,
    label_col: str | None = None,
    first_label: str | None = None,
    second_label: str | None = None,
) -> DataFrame:
    """All ordered (src, dst) pairs connected by a directed path of
    length 2, with multiplicity: (src, dst, n_paths).

    Shape: ONE self-equi-join on the mid vertex + one hash aggregation —
    the dedup-by-endpoint-pair is the groupBy itself.  ``max_fanout``
    (when set) drops mid vertices whose fan-in OR fan-out exceeds the
    cap before the join: a hub vertex contributes fan-in × fan-out
    candidate rows — quadratic in its degree — while carrying little
    path-specific signal; at web scale the cap is the difference between
    Σ(in_i × out_i) over normal vertices and one hub owning the job.

    ``label_col`` + ``first_label``/``second_label`` type each hop
    (Gremlin ``g.V().out('places').out('contains')``): plain per-leg
    filters Catalyst pushes into the edge scans, applied BEFORE the
    fanout stats so the cap measures the typed graph.  Internal shuffles
    run on xxhash64-encoded long ids when the encoding is provably
    injective (see ``_encode_vertex_ids``); outputs always carry the
    caller's original ids.  Leg labels without ``label_col`` (or a
    ``label_col`` with neither leg label) raise — a half-specified
    typed traversal silently answering the untyped question is the
    failure mode, not a convenience."""
    if label_col is None and (first_label is not None or second_label is not None):
        raise ValueError(
            "two_hop: first_label/second_label require label_col"
        )
    if label_col is not None and first_label is None and second_label is None:
        raise ValueError(
            "two_hop: label_col given but no leg label to filter on"
        )
    enc = _encode_vertex_ids(edges, out_col, in_col)
    if enc is not None:
        encoded, vocab = enc
        pairs = _two_hop_impl(
            encoded, out_col, in_col, max_fanout,
            label_col, first_label, second_label,
        )
        return _decode_ids(pairs, vocab, ["src", "dst"])
    return _two_hop_impl(
        edges, out_col, in_col, max_fanout,
        label_col, first_label, second_label,
    )


def _two_hop_impl(
    edges: DataFrame,
    out_col: str,
    in_col: str,
    max_fanout: int | None,
    label_col: str | None = None,
    first_label: str | None = None,
    second_label: str | None = None,
) -> DataFrame:
    first = second = edges
    if label_col is not None:
        if first_label is not None:
            first = edges.filter(F.col(label_col) == first_label)
        if second_label is not None:
            second = edges.filter(F.col(label_col) == second_label)
    a = first.select(F.col(out_col).alias("src"), F.col(in_col).alias("mid"))
    b = second.select(F.col(out_col).alias("mid"), F.col(in_col).alias("dst"))
    if max_fanout is not None:
        fan_in = a.groupBy("mid").agg(F.count("*").alias("_n"))
        fan_out = b.groupBy("mid").agg(F.count("*").alias("_n"))
        ok_in = fan_in.filter(F.col("_n") <= max_fanout).drop("_n")
        ok_out = fan_out.filter(F.col("_n") <= max_fanout).drop("_n")
        a = a.join(ok_in, "mid").join(ok_out, "mid")
        b = b.join(ok_in, "mid").join(ok_out, "mid")
    return (
        a.join(b, "mid")
        .groupBy("src", "dst")
        .agg(F.count("*").cast("long").alias("n_paths"))
    )


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping_ppm: int = 850_000,
    out_col: str = "out_id",
    in_col: str = "in_id",
    weight_col: str | None = None,
) -> DataFrame:
    """PageRank with EXACT integer arithmetic: (id, rank_fp) where
    rank_fp is the rank in micro-units (1.0 == 1_000_000).

    Every update is pure INTEGER arithmetic — contribution =
    ``rank_fp div out_degree``, damped update = (1-d)·10^6 +
    floor(d·Σcontrib/10^6) — so partial-aggregation order cannot change
    a single bit: the same determinism contract as the k-means trainer's
    fixed-point means, and what makes a fixed-``iters`` run SQL-twinnable
    as unrolled CTEs (float PageRank sums are order-sensitive and
    cross-engine unstable).  The damping product uses the split identity
    ``(s·d)//m = (s//m)·d + ((s%m)·d)//m`` so no intermediate exceeds
    ~d·n under ANSI mode even when one vertex accumulates most of the
    total rank mass (a naive ``s·d`` overflows int64 past s ≈ 10^13).
    Dangling vertices (no out-edges) leak their mass — the standard
    simplification; redistributing it needs one extra global agg per
    round, omitted as code KGs have no rank sinks that matter.

    Per round: one equi-join of ranks onto edges + one hash aggregation
    on the destination — both shuffle on uniform ids.  Unlike the CC
    fixpoint there is no per-round convergence probe, so for a fixed
    small ``iters`` the rounds UNROLL INTO ONE JOB (the exact shape of
    the SQL twin's unrolled CTEs): no eager checkpoint job + block write
    per round — measured 12 → 7.3 s at sf0.1, bit-identical output.
    ``ranks`` is referenced once per round and the multiply-referenced
    frames (``verts``, ``ranked_edges``) ARE checkpointed, so nothing
    re-executes; a periodic checkpoint every 8 rounds bounds analyzer
    cost for large ``iters``.

    String vertex ids are dictionary-encoded to xxhash64 longs for the
    per-round join+agg shuffles (``_encode_vertex_ids``; the encode
    reuses the vertex-set distinct the algorithm needs anyway), decoded
    once at the end — rank values are id-independent, so the output is
    bit-identical either way.

    ``weight_col`` switches to EDGE-WEIGHTED PageRank: each out-edge
    carries rank mass proportional to its positive integer weight —
    contribution = floor(rank_fp · w / W_src) with W_src = Σ out-weights,
    computed EXACTLY by the same split identity as the damping product
    ((r div W)·w + ((r mod W)·w) div W, so nothing overflows while
    W_src·max_w stays under 2^63).  Edges with weight ≤ 0 are dropped
    map-side (a deterministic rule the twin replicates — a zero total
    would otherwise divide by zero); unit weights reproduce the
    unweighted rule bit-for-bit (W = out-degree, floor(r·1/W) = r div W).
    Multi-edges each carry their own weight row — Σ over rows, the
    natural multigraph semantics on both engines."""
    enc = _encode_with_overlap(
        edges, out_col, in_col,
        # the out-degree agg + edge join checkpoint only needs the
        # map-side encoded edges, not the injectivity verdict: run it
        # concurrently with the vocab checkpoint (guide §2.6)
        lambda en: _pagerank_ranked_edges(en, out_col, in_col, weight_col),
    )
    if enc is not None:
        encoded, vocab, prebuilt = enc
        verts = vocab.select(F.col("enc").alias("id"))
        ranks = _pagerank_loop(
            encoded, verts, iters, damping_ppm, out_col, in_col,
            weight_col=weight_col, prebuilt=prebuilt,
        )
        return _decode_ids(ranks, vocab, ["id"])
    e = edges.select(F.col(out_col).alias("src"), F.col(in_col).alias("dst"))
    verts = (
        e.select(F.col("src").alias("id"))
        .unionAll(e.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    return _pagerank_loop(
        edges, verts, iters, damping_ppm, out_col, in_col,
        weight_col=weight_col,
    )


# the ranked-edges frame persisted by the PREVIOUS pagerank call, kept so
# the next call can drop it before building its own: Spark's CacheManager
# dedups entries by canonical plan, so without the eager unpersist a
# repeated identical query (bench passes, retried jobs) would silently
# reuse the previous invocation's materialized cache instead of
# recomputing from the parquet inputs — bounded memory AND honest
# re-measurement.  One-element state: at most one ranked-edges cache
# lives at a time per driver.
_PREV_RANKED_CACHE: list[DataFrame] = []


def _pagerank_ranked_edges(
    edges: DataFrame, out_col: str, in_col: str, weight_col: str | None
) -> tuple[DataFrame, str]:
    """``(ranked_edges, contrib_expr)`` — the per-round edge frame (each
    edge annotated with its source's out-degree / out-weight-sum,
    materialized once) plus the matching exact-integer contribution
    expression.  Factored out so :func:`pagerank` can build it
    concurrently with the encode's vocab checkpoint.

    Materialization is ``repartition(src) + sortWithinPartitions +
    persist`` rather than ``localCheckpoint``: a checkpoint forgets its
    partitioning (probed and documented — re-partitioning before the
    checkpoint still re-exchanges), so every round's rank join
    re-shuffled AND re-sorted the corpus-sized static edge frame.  A
    cached plan keeps both ``outputPartitioning`` and ``outputOrdering``
    (``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``
    defaults false), so the per-round sort-merge join exchanges/sorts
    ONLY the vertex-sized rank side: iters × (exchange+sort of m edge
    rows) collapses to the one build-time exchange (guide §2.4 —
    co-partition the reused side once).  Output is bit-identical
    (verified exceptAll-0 both ways at the sf1.0 scale-up): integer
    aggs are partitioning-invariant."""
    if weight_col is not None:
        e = edges.select(
            F.col(out_col).alias("src"),
            F.col(in_col).alias("dst"),
            F.col(weight_col).cast("long").alias("w"),
        ).filter(F.col("w") > 0)
        contrib_expr = (
            "(rank_fp div outd) * w + ((rank_fp % outd) * w) div outd"
        )
    else:
        e = edges.select(F.col(out_col).alias("src"), F.col(in_col).alias("dst"))
        contrib_expr = "rank_fp div outd"
    # materialize the NARROW projected edge rows once: the raw edge
    # expression is typically a union of scans building string ids, and
    # the degree agg + the join's probe side would otherwise each
    # re-evaluate that whole chain (same one-evaluation discipline as
    # triangles()._prep; A/B at the 7.5M-edge scale-up: wins 2/3
    # interleaved rounds, best 8.0 vs 11.8 s, outputs identical)
    e = e.localCheckpoint()
    outd = (
        e.groupBy("src").agg(F.sum("w").alias("outd"))
        if weight_col is not None
        else e.groupBy("src").agg(F.count("*").alias("outd"))
    )
    while _PREV_RANKED_CACHE:
        try:
            _PREV_RANKED_CACHE.pop().unpersist()
        except Exception:
            # best-effort: a frame of a since-stopped session cannot be
            # unpersisted (its cache died with it); never fail this call
            pass
    n_shuffle = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    ranked = (
        e.join(outd, "src")
        .repartition(n_shuffle, "src")
        .sortWithinPartitions("src")
        .persist()
    )
    # materialize now, on the calling thread (under pagerank() the
    # encode's vocab job runs meanwhile on _encode_with_overlap's pool)
    ranked.count()
    _PREV_RANKED_CACHE.append(ranked)
    return ranked, contrib_expr


def _pagerank_loop(
    edges: DataFrame,
    verts: DataFrame,
    iters: int,
    damping_ppm: int,
    out_col: str,
    in_col: str,
    personalized: bool = False,
    weight_col: str | None = None,
    prebuilt: tuple[DataFrame, str] | None = None,
) -> DataFrame:
    """Shared fixed-round integer rank loop.  ``personalized=True``
    expects an ``is_src`` (0/1) column on ``verts``: the teleport mass
    (1-d)·10^6 then lands ONLY on source vertices (initial rank is the
    teleport mass itself), which is exactly global PageRank when every
    vertex is a source — one rule, two operators.  ``weight_col``
    switches the per-edge contribution from ``rank div out-degree`` to
    the exact weighted share ``floor(rank·w / Σw)`` (split identity —
    see :func:`pagerank`).  ``prebuilt`` supplies an already-checkpointed
    ``(ranked_edges, contrib_expr)`` pair (from
    :func:`_pagerank_ranked_edges`, possibly built on an overlap
    thread)."""
    ranked_edges, contrib_expr = (
        prebuilt
        if prebuilt is not None
        else _pagerank_ranked_edges(edges, out_col, in_col, weight_col)
    )
    base = 1_000_000 - damping_ppm
    base_term = f"{base} * is_src" if personalized else str(base)
    damp = (
        f"(s div 1000000) * {damping_ppm} "
        f"+ ((s % 1000000) * {damping_ppm}) div 1000000"
    )
    from kg.hints import maybe_broadcast

    carry = ["id", "is_src"] if personalized else ["id"]
    if personalized:
        ranks = verts.select(
            *carry,
            (F.lit(1_000_000) * F.col("is_src")).cast("long").alias("rank_fp"),
        )
    else:
        ranks = verts.withColumn("rank_fp", F.lit(1_000_000).cast("long"))
    for i in range(iters):
        # both per-round joins have a vertex-sized side (ranks, contrib):
        # broadcast when the stats prove it fits so the edge frame never
        # re-shuffles; a billion-vertex graph blows the budget and the
        # gate degrades to the shuffle join Catalyst would pick anyway
        contrib = (
            ranked_edges.join(
                maybe_broadcast(
                    ranks.select(F.col("id").alias("src"), "rank_fp")
                ),
                "src",
            )
            .select(
                F.col("dst").alias("id"),
                F.expr(contrib_expr).alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("s"))
        )
        ranks = verts.join(maybe_broadcast(contrib), "id", "left").select(
            *carry,
            F.expr(f"cast({base_term} + coalesce({damp}, 0) as long)").alias(
                "rank_fp"
            ),
        )
        if (i + 1) % 8 == 0 and (i + 1) < iters:
            ranks = ranks.localCheckpoint()
    return ranks.select("id", "rank_fp")


def personalized_pagerank(
    edges: DataFrame,
    sources: DataFrame,
    iters: int = 3,
    damping_ppm: int = 850_000,
    out_col: str = "out_id",
    in_col: str = "in_id",
    id_col: str = "id",
) -> DataFrame:
    """Personalized PageRank: (id, rank_fp) where the teleport mass
    returns ONLY to ``sources`` — rank_fp measures random-walk proximity
    to the source set ("what is near these entities", the
    recommendation/expansion query over a fresh KG; Gremlin consumers
    run it as a seeded repeat-out traversal).

    Same integer-exact update rule as :func:`pagerank` (one shared loop,
    ``is_src`` gates the teleport term), so a fixed-``iters`` run is
    bit-reproducible and SQL-twinnable as unrolled CTEs.  Each source
    carries unit teleport mass 10^6 — NOT normalized by |S|, which keeps
    every intermediate an exact integer; divide outside if a
    distribution is needed.  Sources not present in the edge set are
    ignored (rank is defined over the graph's vertices).  Long-encoded
    internally like the other iterative ops."""
    src = sources.select(F.col(id_col).alias("id")).distinct()
    enc = _encode_vertex_ids(edges, out_col, in_col)
    if enc is not None:
        encoded, vocab = enc
        src_enc = src.select(F.xxhash64(F.col("id").cast("string")).alias("id"))
        verts = (
            vocab.select(F.col("enc").alias("id"))
            .join(src_enc.withColumn("is_src", F.lit(1)), "id", "left")
            .select("id", F.coalesce("is_src", F.lit(0)).alias("is_src"))
            .localCheckpoint()
        )
        ranks = _pagerank_loop(
            encoded, verts, iters, damping_ppm, out_col, in_col,
            personalized=True,
        )
        return _decode_ids(ranks, vocab, ["id"])
    e = edges.select(F.col(out_col).alias("src"), F.col(in_col).alias("dst"))
    verts = (
        e.select(F.col("src").alias("id"))
        .unionAll(e.select(F.col("dst").alias("id")))
        .distinct()
        .join(src.withColumn("is_src", F.lit(1)), "id", "left")
        .select("id", F.coalesce("is_src", F.lit(0)).alias("is_src"))
        .localCheckpoint()
    )
    return _pagerank_loop(
        edges, verts, iters, damping_ppm, out_col, in_col, personalized=True
    )


def katz(
    edges: DataFrame,
    iters: int = 3,
    alpha_ppm: int = 50_000,
    out_col: str = "out_id",
    in_col: str = "in_id",
) -> DataFrame:
    """Katz centrality (Katz 1953) truncated at ``iters`` walk lengths,
    in EXACT integer micro-units: (id, katz_fp) with katz_fp =
    10⁶ · Σ_{k=0..iters} α^k · (#walks of length k ending at v) — the
    walk-counting centrality that, unlike PageRank, does NOT normalize a
    source's influence by its out-degree (a hub broadcasting to 10⁴
    targets confers full α to each, the citation/influence semantics).
    The k=0 self term is the constant β·10⁶ = 10⁶ on every vertex; ranks
    are shift-invariant so it is kept rather than subtracted.

    Per round x ← β + α·Aᵀx, each in-edge contributing
    ``(x div 10⁶)·α_ppm + ((x mod 10⁶)·α_ppm) div 10⁶`` — the same
    overflow-safe split identity as the PageRank damping product, so
    every intermediate is exact BIGINT and partial-aggregation order
    cannot change a bit: the op carries a FULL unrolled-CTE SQL twin.
    Multi-edges each contribute their own row (multigraph semantics on
    both engines).  Overflow bound: x after round t is ≤
    10⁶·(1+α·D)^t for max in-degree D, so the default α = 0.05 holds
    int64 headroom through 3 rounds up to D ≈ 10⁵; for larger D or
    deeper truncation shrink ``alpha_ppm`` (Katz requires α < 1/λ_max
    for the untruncated series to converge anyway).

    Same fixed-round discipline as :func:`pagerank`: no per-round
    convergence probe, rounds unroll into ONE job, the multiply-
    referenced edge frame is checkpointed once, and string vertex ids
    are dictionary-encoded to longs for the per-round join+agg shuffles
    (scores are id-independent, so the output is bit-identical)."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if not 0 < alpha_ppm < 1_000_000:
        raise ValueError(f"alpha_ppm must be in (0, 10^6), got {alpha_ppm}")
    enc = _encode_vertex_ids(edges, out_col, in_col)
    if enc is not None:
        encoded, vocab = enc
        verts = vocab.select(F.col("enc").alias("id"))
        scores = _katz_loop(encoded, verts, iters, alpha_ppm, out_col, in_col)
        return _decode_ids(scores, vocab, ["id"])
    e = edges.select(F.col(out_col).alias("src"), F.col(in_col).alias("dst"))
    verts = (
        e.select(F.col("src").alias("id"))
        .unionAll(e.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    return _katz_loop(edges, verts, iters, alpha_ppm, out_col, in_col)


def _katz_loop(
    edges: DataFrame,
    verts: DataFrame,
    iters: int,
    alpha_ppm: int,
    out_col: str,
    in_col: str,
) -> DataFrame:
    """Fixed-round integer Katz iteration: x₀ = 10⁶,
    x_{t+1}(v) = 10⁶ + Σ_{u→v} split(x_t(u), α) — the
    :func:`_pagerank_loop` shape without the out-degree share (Katz
    attenuates by walk length only)."""
    from kg.hints import maybe_broadcast

    # referenced once per round in the unrolled plan: checkpoint so the
    # upstream edge scan runs once, not `iters` times
    e = edges.select(
        F.col(out_col).alias("src"), F.col(in_col).alias("dst")
    ).localCheckpoint()
    att = (
        f"(katz_fp div 1000000) * {alpha_ppm} "
        f"+ ((katz_fp % 1000000) * {alpha_ppm}) div 1000000"
    )
    scores = verts.withColumn("katz_fp", F.lit(1_000_000).cast("long"))
    for i in range(iters):
        contrib = (
            e.join(
                maybe_broadcast(
                    scores.select(F.col("id").alias("src"), "katz_fp")
                ),
                "src",
            )
            .select(F.col("dst").alias("id"), F.expr(att).alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("s"))
        )
        scores = verts.join(maybe_broadcast(contrib), "id", "left").select(
            "id",
            F.expr("cast(1000000 + coalesce(s, 0) as long)").alias("katz_fp"),
        )
        if (i + 1) % 8 == 0 and (i + 1) < iters:
            scores = scores.localCheckpoint()
    return scores


def hits(
    edges: DataFrame,
    iters: int = 2,
    out_col: str = "out_id",
    in_col: str = "in_id",
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) in EXACT integer
    micro-units: (id, hub_fp, auth_fp) for every vertex, 10^6 = the
    round's maximum score.

    Per round: authority = Σ hub over in-neighbors, then hub = Σ
    authority over out-neighbors, each max-normalized in integer
    arithmetic — ``norm = (s div m)·10^6 + ((s mod m)·10^6) div m``
    (exact floor(s·10^6/m) by the split identity, no intermediate
    overflow until in-degree ≈ 9·10^6; the same overflow-safe split as
    :func:`pagerank`'s damping product, mirrored in the SQL twin).
    Max-normalization instead of L2: it keeps every update in BIGINT,
    which is what makes the fixed-``iters`` run bit-reproducible across
    engines and partitionings — the determinism-buys-an-oracle design
    of the pagerank/k-means twins (an L2-normalized float HITS is
    order-sensitive and cross-engine unstable).  The round maximum is a
    lazy 1-row cross-joined broadcast scalar (no driver action), and
    ``greatest(m, 1)`` guards the all-zero degenerate round.

    Plan shape: per round two equi-joins of vertex-sized score frames
    onto the edge table + two hash aggs + two 1-row max aggs; rounds
    unroll into one job (no convergence probe).  Vertices with no
    in-edges (resp. out-edges) get authority (resp. hub) 0 via the
    final left joins.  String ids run long-encoded like every iterative
    op here."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    enc = _encode_vertex_ids(edges, out_col, in_col)
    if enc is not None:
        encoded, vocab = enc
        verts = vocab.select(F.col("enc").alias("id"))
        scores = _hits_loop(encoded, verts, iters, out_col, in_col)
        return _decode_ids(scores, vocab, ["id"])
    e = edges.select(F.col(out_col).alias("src"), F.col(in_col).alias("dst"))
    verts = (
        e.select(F.col("src").alias("id"))
        .unionAll(e.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    return _hits_loop(edges, verts, iters, out_col, in_col)


def _hits_loop(
    edges: DataFrame,
    verts: DataFrame,
    iters: int,
    out_col: str,
    in_col: str,
) -> DataFrame:
    from kg.hints import maybe_broadcast

    e = edges.select(
        F.col(out_col).alias("src"), F.col(in_col).alias("dst")
    ).localCheckpoint()
    norm = (
        "cast((s div m) * 1000000 + ((s % m) * 1000000) div m as long)"
    )

    def _propagate(scores: DataFrame, from_col: str, to_col: str) -> DataFrame:
        raw = (
            e.join(
                maybe_broadcast(
                    scores.select(F.col("id").alias(from_col), "v")
                ),
                from_col,
            )
            .select(F.col(to_col).alias("id"), "v")
            .groupBy("id")
            .agg(F.sum("v").alias("s"))
        )
        m = raw.agg(F.greatest(F.max("s"), F.lit(1)).alias("m"))
        return raw.crossJoin(F.broadcast(m)).select(
            "id", F.expr(norm).alias("v")
        )

    hub = verts.withColumn("v", F.lit(1_000_000).cast("long"))
    auth = None
    for i in range(iters):
        auth = _propagate(hub, "src", "dst")
        hub = _propagate(auth, "dst", "src")
        # only hub feeds the next round (auth is rebound from it), so
        # only hub's lineage needs periodic truncation; the final auth
        # is read once in the output join below
        if (i + 1) % 4 == 0 and (i + 1) < iters:
            hub = hub.localCheckpoint()
    return (
        verts.join(hub.withColumnRenamed("v", "hub_fp"), "id", "left")
        .join(auth.withColumnRenamed("v", "auth_fp"), "id", "left")
        .select(
            "id",
            F.coalesce("hub_fp", F.lit(0)).cast("long").alias("hub_fp"),
            F.coalesce("auth_fp", F.lit(0)).cast("long").alias("auth_fp"),
        )
    )


def _undirected(edges: DataFrame, out_col: str, in_col: str) -> DataFrame:
    """Distinct undirected simple edges as (u, v) with u < v (self-loops
    dropped): the canonical form every undirected graph op here starts
    from.  One distinct = one shuffle on a uniform composite key."""
    return (
        edges.select(
            F.least(out_col, in_col).alias("u"),
            F.greatest(out_col, in_col).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def triangles(
    edges: DataFrame, out_col: str = "out_id", in_col: str = "in_id"
) -> DataFrame:
    """Per-vertex triangle participation over the undirected simple graph
    underlying the edge table: (id, n_triangles) for every vertex in at
    least one triangle (Gremlin's clustering/cohesion diagnostic —
    ``g.V().filter(out().out().where(out().as('x')))`` family).

    Degree orientation (compact-forward, Chiba–Nishizeki / Schank-Wagner):
    each undirected edge is directed from its LOWER (degree, id) endpoint
    to the higher one, so every vertex's oriented out-degree is O(√m)
    regardless of its raw degree.  A raw neighbor self-join wedges a hub
    quadratically in its degree — the orientation is what makes triangle
    counting survive a power-law graph at 100 TB, the same reason every
    LSH band join here caps its buckets.  Each triangle is then found
    exactly once (its order-minimal vertex owns both oriented out-edges),
    as wedge (a→b, a→c) with b before c, closed by oriented edge (b→c).

    Plan shape: degree agg + three equi-joins + one hash agg — no
    cartesian, no Python, and deterministic, so the operator carries a
    full SQL oracle twin (``graph_triangles``).

    String ids run encoded as xxhash64 longs (``_encode_vertex_ids``):
    the orientation only needs SOME strict total order on vertices —
    (deg, enc) is one whenever the encoding is injective, and each
    triangle is still found exactly once — so per-vertex counts are
    invariant under the encoding; the decode join restores the caller's
    ids.  This is the graph surface's most shuffle-heavy op (the wedge
    set is Σ out-deg² rows), so it gains the most from 8-byte keys.

    The direct entry point runs the MULTIGRAPH adjacency path (see
    :func:`_triangle_triples_multigraph`): the corpus-sized undirected
    ``distinct`` is skipped entirely — any strict total order orients,
    so multigraph degrees work, and the edge dedup happens for free
    inside the adjacency ``collect_set``.  The degree checkpoint is
    overlapped with the encode's vocab checkpoint (two independent
    jobs, ``_encode_with_overlap``)."""
    def _prep(en: DataFrame):
        # materialize the NARROW (16-byte) encoded undirected rows once:
        # the raw edge expression is typically a multi-branch union of
        # scans building string ids (re-evaluated by every consumer —
        # the vocab distinct, the degree agg AND the orientation each
        # paid the full string-build + hash chain before this), and both
        # the degree agg and the orientation joins read the checkpoint
        # instead.  A/B at the 18M-edge sf1.0 scale-up: wins 2/3
        # interleaved rounds, best 11.1 vs 11.9 s, outputs
        # exceptAll-identical.
        um = _multigraph_und(en, out_col, in_col).localCheckpoint()
        deg = (
            um.select(F.explode(F.array("u", "v")).alias("id"))
            .groupBy("id")
            .agg(F.count("*").alias("deg"))
            .localCheckpoint()
        )
        return um, deg

    enc = _encode_with_overlap(edges, out_col, in_col, _prep)
    if enc is not None:
        encoded, vocab, (um, deg) = enc
        tri = _triangle_triples_multigraph(
            encoded, out_col, in_col, deg, um=um
        )
        counts = _triangle_member_counts(tri)
        return _decode_ids(counts, vocab, ["id"])
    return _triangles_impl(edges, out_col, in_col)


def _triangles_impl(
    edges: DataFrame,
    out_col: str,
    in_col: str,
    und: DataFrame | None = None,
    deg: DataFrame | None = None,
) -> DataFrame:
    # Callers that already materialized the undirected/degree frames
    # (``transitivity``) pass them in and take the classic simple-graph
    # wedge core so their und/deg investment is reused; the bare call
    # takes the multigraph path, which never runs the corpus-sized
    # distinct at all (see _triangle_triples_multigraph).
    if und is None:
        mdeg = _multigraph_deg(edges, out_col, in_col)
        tri = _triangle_triples_multigraph(edges, out_col, in_col, mdeg)
        return _triangle_member_counts(tri)
    # deg is vertex-sized (two longs per vertex): checkpoint so its
    # stats are real, then broadcast-gate BOTH annotation joins — the
    # edge table never shuffles for the orientation, only for its own
    # distinct above (measured ~2 s off the chain at sf0.1; over budget
    # the gate degrades to the shuffle joins this code was before)
    if deg is None:
        deg = (
            und.select(F.col("u").alias("id"))
            .unionAll(und.select(F.col("v").alias("id")))
            .groupBy("id")
            .agg(F.count("*").alias("deg"))
            .localCheckpoint()
        )
    tri = _triangle_triples(und, deg)
    return _triangle_member_counts(tri)


def _triangle_member_counts(tri: DataFrame) -> DataFrame:
    # explode, not a 3-way union of tri projections: each union branch
    # re-executes the wedge join (the plan's expensive part) — measured
    # 3x the runtime of the single-pass explode on a 670k-triangle graph
    members = tri.select(F.explode(F.array("a", "b", "c")).alias("id"))
    return members.groupBy("id").agg(
        F.count("*").cast("long").alias("n_triangles")
    )


def _multigraph_und(edges: DataFrame, out_col: str, in_col: str) -> DataFrame:
    """Undirected edge rows WITHOUT the dedup — the map-side half of
    :func:`_undirected` (least/greatest canonical form, self-loops
    dropped), duplicates retained."""
    return edges.select(
        F.least(out_col, in_col).alias("u"),
        F.greatest(out_col, in_col).alias("v"),
    ).filter(F.col("u") != F.col("v"))


def _multigraph_deg(edges: DataFrame, out_col: str, in_col: str) -> DataFrame:
    """Checkpointed per-vertex MULTIGRAPH degree (duplicate edges each
    count): one explode + hash agg, no distinct.  Only valid as an
    orientation key — any deterministic per-vertex value gives a strict
    total order on (value, id), and the triangle SET of the underlying
    simple graph is invariant under the orientation order — never as the
    simple-graph degree."""
    um = _multigraph_und(edges, out_col, in_col)
    return (
        um.select(F.explode(F.array("u", "v")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
        .localCheckpoint()
    )


def _triangle_triples(und: DataFrame, deg: DataFrame) -> DataFrame:
    """Each triangle of the undirected simple graph exactly once as
    (a, b, c) via degree orientation — the shared core of
    :func:`triangles` and :func:`k_truss`.  ``und``/``deg`` must be
    checkpointed by the caller (both are referenced by multiple joins).

    Adjacency-intersect formulation (node-iterator over the oriented
    graph): for each oriented edge (a, b), every common oriented
    out-neighbor c ∈ N⁺(a) ∩ N⁺(b) closes the triangle (a, b, c) —
    a→b, a→c and b→c all oriented, so each triangle is found exactly
    once at its rank-minimal edge, with a = min, b = mid, c = max in
    orientation rank (identical labeling to the wedge-join form this
    replaced).  N⁺ arrays are bounded O(√m) by the orientation, so no
    row ever materializes an unbounded neighborhood.

    Why not the previous explicit wedge self-join + (b, c) closer join:
    the wedge set (Σ out-deg² rows) was materialized AND shuffled to the
    closer join's (b, c) partitioning — ~130M × 24-byte rows at the
    sf1.0 bench graph, ~24 s of its 39 s total.  Here the wedge set is
    never materialized: the candidate join ships only (src, dst) pairs
    plus one bounded N⁺ array per surviving edge, and wedges are closed
    in-array by ``array_intersect`` (hash set, JVM).  Plan: one groupBy
    building N⁺ + three narrow equi-joins, the first of which drops
    every edge whose head has no out-neighbors (in the bench's
    tripartite graph that is 2/3 of all edges — exactly the wedges that
    could never close)."""
    from kg.hints import DEFAULT_MAX_BYTES, broadcast_if_small

    # evidence for the broadcast gates below: both frames are
    # checkpointed by the caller, so these counts are metadata-cheap
    # block scans — Catalyst's own size estimates for checkpointed aggs
    # run ~6x over the real bytes at the bench graph (measured 163 MB
    # estimated vs ~27 MB real for deg), starving every gate; an exact
    # row count × a documented bytes-per-row model is the repo's
    # broadcast_if_small contract for exactly this case
    n_vert = deg.count()
    m_und = und.count()

    def _deg_side(key: str, out: str) -> DataFrame:
        return broadcast_if_small(
            deg.withColumnsRenamed({"id": key, "deg": out}),
            row_count=n_vert,
            bytes_per_row=16,
        )

    ranked = und.join(_deg_side("u", "du"), "u").join(
        _deg_side("v", "dv"), "v"
    )
    lt = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ranked.select(
        F.when(lt, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(lt, F.col("v")).otherwise(F.col("u")).alias("dst"),
    )
    # one bounded O(√m) out-neighbor array per vertex; referenced three
    # times below (prune keys + both array attachments), so checkpoint —
    # und is distinct, hence collect_list never sees a duplicate.  The
    # in-array element order is whatever the aggregation produced:
    # array_intersect/explode consumers are set-semantics, so nothing
    # downstream observes it.
    hi_adj = (
        oriented.groupBy("src")
        .agg(F.collect_list("dst").alias("nb"))
        .localCheckpoint()
    )
    # total adjacency payload is exactly (vertices × row overhead +
    # und edges × 8B): broadcastable well past the default dim budget —
    # a few hundred MB per executor is the normal broadcast regime
    # (guide §3.1) and turns the whole closure below into map-side
    # probes; past the budget every join degrades to shuffle, arrays
    # stay O(√m) per row, so the 100 TB path is unchanged
    adj_bytes = n_vert * 24 + m_und * 8
    if adj_bytes <= 4 * DEFAULT_MAX_BYTES:
        # both attachment joins probe the SAME broadcast relation (same
        # child plan, same src build key → one BroadcastExchange, reused
        # by the second join); the inner dst-join doubles as the dead-
        # wedge prune, so no separate prune pass is needed map-side
        def _adj_side(key: str, out: str) -> DataFrame:
            return F.broadcast(
                hi_adj.withColumnsRenamed({"src": key, "nb": out})
            )

        with_b = oriented.join(_adj_side("dst", "nb_dst"), "dst")
        closed = with_b.join(_adj_side("src", "nb_src"), "src")
    else:
        # shuffle path: prune FIRST on the narrow (src, dst) rows — only
        # edges whose dst has out-neighbors can close a wedge, and this
        # inner join ships no arrays at all, so the dead wedges are
        # dropped before any payload moves; then attach the small src
        # array before the dst array so the widest rows cross exactly
        # one exchange
        cand = oriented.join(
            broadcast_if_small(
                hi_adj.select(F.col("src").alias("dst")),
                row_count=n_vert,
                bytes_per_row=16,
            ),
            "dst",
        )
        with_a = cand.join(
            hi_adj.select("src", F.col("nb").alias("nb_src")), "src"
        )
        closed = with_a.join(
            hi_adj.select(
                F.col("src").alias("dst"), F.col("nb").alias("nb_dst")
            ),
            "dst",
        )
    return closed.select(
        F.col("src").alias("a"),
        F.col("dst").alias("b"),
        F.explode(F.array_intersect("nb_src", "nb_dst")).alias("c"),
    )


def _triangle_triples_multigraph(
    edges: DataFrame,
    out_col: str,
    in_col: str,
    deg: DataFrame,
    um: DataFrame | None = None,
) -> DataFrame:
    """:func:`_triangle_triples` without the corpus-sized ``distinct``.

    The classic chain pays a full shuffle to dedup the undirected edge
    table before anything else.  But the orientation only needs SOME
    strict total order on vertices — the MULTIGRAPH degree (duplicates
    counted, ``deg`` arg, checkpointed) is just as deterministic a key
    as the simple degree — and duplicate edge rows orient identically,
    so the adjacency aggregation dedups them for free by building
    ``collect_set`` instead of ``collect_list``.  The distinct oriented
    edge set (the closure's probe side) is then recovered by EXPLODING
    the checkpointed adjacency — a map-side scan, not a recompute of the
    orientation joins.  Net: one corpus-sized shuffle (the adjacency
    groupBy) instead of three (distinct + degree + adjacency), and the
    probe side costs a checkpoint scan instead of re-running the
    annotation joins.

    Output and labeling are identical to :func:`_triangle_triples`
    (each triangle exactly once at its rank-minimal oriented edge);
    the only difference is WHICH valid total order ranks the vertices,
    which the triangle set provably does not depend on.  The O(√m)
    out-neighbor bound holds with the multigraph order up to the graph's
    edge multiplicity — bounded in every real corpus here; a pathological
    multiplicity-M graph degrades arrays by at most M, never the join
    shape."""
    from kg.hints import DEFAULT_MAX_BYTES, broadcast_if_small

    n_vert = deg.count()

    def _deg_side(key: str, out: str) -> DataFrame:
        return broadcast_if_small(
            deg.withColumnsRenamed({"id": key, "deg": out}),
            row_count=n_vert,
            bytes_per_row=16,
        )

    # callers may hand in an already-materialized undirected frame so the
    # raw edge expression is evaluated once (see triangles()._prep); the
    # bare call keeps the transient map-side form
    if um is None:
        um = _multigraph_und(edges, out_col, in_col)
    ranked = um.join(_deg_side("u", "du"), "u").join(_deg_side("v", "dv"), "v")
    lt = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ranked.select(
        F.when(lt, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(lt, F.col("v")).otherwise(F.col("u")).alias("dst"),
    )
    hi_adj = (
        oriented.groupBy("src")
        .agg(F.collect_set("dst").alias("nb"))
        .localCheckpoint()
    )
    # exact simple-edge count from the adjacency itself (vertex-sized agg
    # over the checkpoint — metadata-cheap) for the same broadcast gate
    # as the simple-graph core
    m_und = int(
        hi_adj.agg(F.sum(F.size("nb")).alias("m")).first()["m"] or 0
    )
    # the deduped oriented edge set, recovered map-side from the ckpt
    edges_d = hi_adj.select("src", F.explode("nb").alias("dst"))
    adj_bytes = n_vert * 24 + m_und * 8
    if adj_bytes <= 4 * DEFAULT_MAX_BYTES:

        def _adj_side(key: str, out: str) -> DataFrame:
            return F.broadcast(
                hi_adj.withColumnsRenamed({"src": key, "nb": out})
            )

        with_b = edges_d.join(_adj_side("dst", "nb_dst"), "dst")
        closed = with_b.join(_adj_side("src", "nb_src"), "src")
    else:
        cand = edges_d.join(
            broadcast_if_small(
                hi_adj.select(F.col("src").alias("dst")),
                row_count=n_vert,
                bytes_per_row=16,
            ),
            "dst",
        )
        with_a = cand.join(
            hi_adj.select("src", F.col("nb").alias("nb_src")), "src"
        )
        closed = with_a.join(
            hi_adj.select(
                F.col("src").alias("dst"), F.col("nb").alias("nb_dst")
            ),
            "dst",
        )
    return closed.select(
        F.col("src").alias("a"),
        F.col("dst").alias("b"),
        F.explode(F.array_intersect("nb_src", "nb_dst")).alias("c"),
    )


def clustering_coefficient(
    edges: DataFrame, out_col: str = "out_id", in_col: str = "in_id"
) -> DataFrame:
    """Local clustering coefficient per vertex: ``2·T / (d·(d−1))`` where
    T = triangles the vertex participates in and d = its distinct
    undirected neighbor count — the standard "how clique-like is this
    entity's neighborhood" diagnostic (Watts–Strogatz), and the natural
    next question after ``triangles``/``degrees`` over a freshly
    materialized KG sink.

    Output: (id, deg, n_triangles, clustering) for every vertex with at
    least one non-loop edge; degree-1 vertices get coefficient 0.0 (no
    wedge to close), non-participants get n_triangles = 0.  The ratio is
    rounded to 6 dp so the value is bit-reproducible across engines —
    same portability contract as every float this repo's oracle twins
    compare.

    Plan shape: the ``triangles`` chain (bounded wedge join on degree
    orientation) + one vertex-sized degree agg + one broadcast-gated
    left join.  The undirected-distinct pass runs once here and once
    inside ``triangles`` — both are single shuffles on uniform keys; at
    the scale where that matters the caller should checkpoint the edge
    table, which collapses them to scans of the same blocks."""
    from kg.hints import maybe_broadcast

    und = _undirected(edges, out_col, in_col)
    deg = (
        und.select(F.col("u").alias("id"))
        .unionAll(und.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    tri = triangles(edges, out_col, in_col)
    n_tri = F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long")
    return deg.join(maybe_broadcast(tri), "id", "left").select(
        "id",
        "deg",
        n_tri.alias("n_triangles"),
        F.when(
            F.col("deg") >= 2,
            F.round(
                F.lit(2.0) * n_tri / (F.col("deg") * (F.col("deg") - F.lit(1))),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering"),
    )


def neighbor_jaccard(
    edges: DataFrame,
    out_col: str = "out_id",
    in_col: str = "in_id",
    min_common: int = 1,
    max_fanout: int | None = None,
) -> DataFrame:
    """Neighborhood similarity (link prediction / entity-merge candidates):
    for unordered vertex pairs (a, b) sharing ≥ ``min_common`` undirected
    neighbors, (a, b, n_common, jaccard) with jaccard =
    |N(a) ∩ N(b)| / |N(a) ∪ N(b)| rounded to 6dp.

    Shape: wedge self-join of the adjacency list on the SHARED neighbor
    (one equi-join + one hash agg = the intersection), then two
    vertex-sized degree joins for the union denominator.  ``max_fanout``
    drops shared-neighbor hubs before the wedge join — a hub with degree
    d contributes d·(d-1)/2 pairs, the exact quadratic shape the two_hop
    cap exists for; pairs whose ONLY evidence is a super-node neighbor
    are noise for link prediction anyway.

    Internally long-encoded like ``triangles`` (the candidate-pair
    shuffle is the big intermediate); n_common/jaccard are symmetric and
    id-independent, so after decoding the pair is re-oriented with
    least/greatest to restore the a < b contract on the ORIGINAL ids."""
    enc = _encode_vertex_ids(edges, out_col, in_col)
    if enc is not None:
        encoded, vocab = enc
        pairs = _neighbor_jaccard_impl(
            encoded, out_col, in_col, min_common, max_fanout
        )
        decoded = _decode_ids(pairs, vocab, ["a", "b"])
        return decoded.select(
            F.least("a", "b").alias("a"),
            F.greatest("a", "b").alias("b"),
            "n_common",
            "jaccard",
        )
    return _neighbor_jaccard_impl(edges, out_col, in_col, min_common, max_fanout)


def _shared_neighbor_pairs(
    edges: DataFrame,
    out_col: str,
    in_col: str,
    min_common: int,
    max_fanout: int | None,
    mid_weight=None,
) -> tuple[DataFrame, DataFrame]:
    """The wedge machinery shared by :func:`neighbor_jaccard` and
    :func:`adamic_adar`: ``(pairs, deg)`` where pairs = unordered vertex
    pairs (a < b) sharing ≥ ``min_common`` undirected neighbors with
    their shared count ``n_common`` (plus ``w_sum`` when ``mid_weight``
    is given — an expression over the shared neighbor's ``deg`` column,
    summed per pair), and deg = the checkpointed (id, deg) frame for the
    caller's own annotations.

    One scaffolding, one broadcast/checkpoint discipline: adj feeds both
    wedge legs and the degree agg, deg feeds the fanout filter plus the
    callers' joins — both checkpointed so the edge scan runs once and
    the degree shuffle once (not 5-7×).  ``max_fanout`` drops hub mids
    BEFORE the self-join (the quadratic guard); ``mid_weight`` rows ride
    the wedge rows so the pair agg is one pass with no post-join math on
    the big frame.  When ``mid_weight`` is set, mids of degree 1 are
    dropped up front — they can't center a wedge anyway, and weight
    expressions like 1/ln(deg) must never evaluate on them (ANSI
    Infinity-cast hazard)."""
    from kg.hints import maybe_broadcast

    und = _undirected(edges, out_col, in_col)
    adj = und.select(F.col("u").alias("id"), F.col("v").alias("nbr")).unionAll(
        und.select(F.col("v").alias("id"), F.col("u").alias("nbr"))
    ).localCheckpoint()
    deg = adj.groupBy("id").agg(F.count("*").alias("deg")).localCheckpoint()
    mids = deg.select(F.col("id").alias("mid"), "deg")
    if mid_weight is not None:
        mids = mids.filter(F.col("deg") >= 2)
    if max_fanout is not None:
        mids = mids.filter(F.col("deg") <= max_fanout)
    wedge_src = adj.select(F.col("nbr").alias("mid"), F.col("id"))
    if mid_weight is not None:
        wedge_src = wedge_src.join(
            maybe_broadcast(mids.select("mid", mid_weight.alias("w_fp"))),
            "mid",
        )
        p1 = wedge_src.select("mid", F.col("id").alias("a"), "w_fp")
    else:
        if max_fanout is not None:
            wedge_src = wedge_src.join(mids.select("mid"), "mid")
        p1 = wedge_src.select("mid", F.col("id").alias("a"))
    p2 = wedge_src.select("mid", F.col("id").alias("b"))
    # same broadcast discipline as triangles: the candidate-pair set is
    # the big intermediate — keep it map-side when the edge-sized wedge
    # leg provably fits; the vertex-sized degree dim rides the same gate
    aggs = [F.count("*").cast("long").alias("n_common")]
    if mid_weight is not None:
        aggs.append(F.sum("w_fp").alias("w_sum"))
    pairs = (
        p1.join(maybe_broadcast(p2), "mid")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(*aggs)
        .filter(F.col("n_common") >= min_common)
    )
    return pairs, deg


def _neighbor_jaccard_impl(
    edges: DataFrame,
    out_col: str,
    in_col: str,
    min_common: int,
    max_fanout: int | None,
) -> DataFrame:
    from kg.hints import maybe_broadcast

    common, deg = _shared_neighbor_pairs(
        edges, out_col, in_col, min_common, max_fanout
    )
    return (
        common.join(
            maybe_broadcast(deg.withColumnsRenamed({"id": "a", "deg": "da"})),
            "a",
        )
        .join(
            maybe_broadcast(deg.withColumnsRenamed({"id": "b", "deg": "db"})),
            "b",
        )
        .select(
            "a",
            "b",
            "n_common",
            F.round(
                F.col("n_common")
                / (F.col("da") + F.col("db") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


def adamic_adar(
    edges: DataFrame,
    out_col: str = "out_id",
    in_col: str = "in_id",
    min_common: int = 1,
    max_fanout: int | None = None,
) -> DataFrame:
    """Adamic–Adar link-prediction score (Adamic & Adar 2003) over the
    undirected simple graph: for unordered pairs (a, b) sharing ≥
    ``min_common`` neighbors, (a, b, n_common, aa_fp, adamic_adar) with
    score = Σ_{m ∈ N(a)∩N(b)} 1/ln(deg(m)) — :func:`neighbor_jaccard`'s
    companion that DOWN-WEIGHTS promiscuous shared neighbors instead of
    normalizing by union size (a rare shared import is strong merge
    evidence; a stdlib-sized hub is none).

    Portability contract: float SUMS are association-order-dependent, so
    a naive ``sum(1/ln(deg))`` could hash-differently across engines and
    partitionings.  Each term is therefore fixed-pointed FIRST —
    ``aa_fp = Σ floor(10⁶ / ln(deg(m)))`` as exact BIGINT micro-units
    (order-free; the :func:`pagerank` micro-unit design) — and only the
    final ``aa_fp / 10⁶`` floats, rounded to 6dp.  deg(m) ≥ 2 for any
    shared neighbor, so ln is never 0.

    Same plan shape and super-node cap as :func:`neighbor_jaccard` (the
    wedge self-join on the shared neighbor is the quadratic risk;
    ``max_fanout`` drops hub mids before it).  Long-encoded like
    ``triangles``: the weight depends only on the mid's DEGREE, never on
    id values, so the encoding is output-invariant; pairs re-orient with
    least/greatest on the original ids after decoding."""
    enc = _encode_vertex_ids(edges, out_col, in_col)
    if enc is not None:
        encoded, vocab = enc
        pairs = _adamic_adar_impl(encoded, out_col, in_col, min_common, max_fanout)
        decoded = _decode_ids(pairs, vocab, ["a", "b"])
        return decoded.select(
            F.least("a", "b").alias("a"),
            F.greatest("a", "b").alias("b"),
            "n_common",
            "aa_fp",
            "adamic_adar",
        )
    return _adamic_adar_impl(edges, out_col, in_col, min_common, max_fanout)


def _adamic_adar_impl(
    edges: DataFrame,
    out_col: str,
    in_col: str,
    min_common: int,
    max_fanout: int | None,
) -> DataFrame:
    # per-mid fixed-point weight rides the wedge rows inside the shared
    # scaffolding, so the pair agg is ONE exact integer sum — no
    # post-join float math on the big frame
    w_fp = F.floor(
        F.lit(1000000.0) / F.log(F.col("deg").cast("double"))
    ).cast("long")
    pairs, _ = _shared_neighbor_pairs(
        edges, out_col, in_col, min_common, max_fanout, mid_weight=w_fp
    )
    return pairs.select(
        "a",
        "b",
        "n_common",
        F.col("w_sum").alias("aa_fp"),
        F.round(F.col("w_sum") / F.lit(1000000.0), 6).alias("adamic_adar"),
    )


def resource_allocation(
    edges: DataFrame,
    out_col: str = "out_id",
    in_col: str = "in_id",
    min_common: int = 1,
    max_fanout: int | None = None,
) -> DataFrame:
    """Resource-allocation link-prediction index (Zhou, Lü & Zhang 2009)
    over the undirected simple graph: for unordered pairs (a, b) sharing
    ≥ ``min_common`` neighbors, (a, b, n_common, ra_fp,
    resource_allocation) with score = Σ_{m ∈ N(a)∩N(b)} 1/deg(m) — the
    harder-discounting sibling of :func:`adamic_adar` (1/d instead of
    1/ln d; empirically the strongest of the classic local indices on
    dense graphs, per the original study).

    Unlike Adamic–Adar there is NO transcendental in the weight:
    ``floor(10⁶ / deg)`` is pure integer division, so ``ra_fp`` is
    EXACT BIGINT micro-units end-to-end with no cross-engine float
    concern at all; only the final display ratio floats (6dp).  Same
    shared wedge scaffolding, super-node cap, and long-id encoding as
    :func:`neighbor_jaccard` / :func:`adamic_adar`."""
    enc = _encode_vertex_ids(edges, out_col, in_col)
    if enc is not None:
        encoded, vocab = enc
        pairs = _resource_allocation_impl(
            encoded, out_col, in_col, min_common, max_fanout
        )
        decoded = _decode_ids(pairs, vocab, ["a", "b"])
        return decoded.select(
            F.least("a", "b").alias("a"),
            F.greatest("a", "b").alias("b"),
            "n_common",
            "ra_fp",
            "resource_allocation",
        )
    return _resource_allocation_impl(edges, out_col, in_col, min_common, max_fanout)


def _resource_allocation_impl(
    edges: DataFrame,
    out_col: str,
    in_col: str,
    min_common: int,
    max_fanout: int | None,
) -> DataFrame:
    w_fp = F.expr("div(1000000, deg)").cast("long")
    pairs, _ = _shared_neighbor_pairs(
        edges, out_col, in_col, min_common, max_fanout, mid_weight=w_fp
    )
    return pairs.select(
        "a",
        "b",
        "n_common",
        F.col("w_sum").alias("ra_fp"),
        F.round(F.col("w_sum") / F.lit(1000000.0), 6).alias(
            "resource_allocation"
        ),
    )


def preferential_attachment(
    edges: DataFrame,
    out_col: str = "out_id",
    in_col: str = "in_id",
    min_common: int = 1,
    max_fanout: int | None = None,
) -> DataFrame:
    """Preferential-attachment link-prediction score (Barabási–Albert
    growth model; Liben-Nowell & Kleinberg 2003's PA predictor) over the
    undirected simple graph: for unordered candidate pairs (a, b)
    sharing ≥ ``min_common`` neighbors, (a, b, n_common, pref_attach)
    with pref_attach = deg(a)·deg(b) — "rich get richer": high-degree
    pairs are the likeliest future links regardless of what they share.

    The score is a pure BIGINT product of two counts — exact end-to-end,
    no fixed-pointing needed (the easiest twin in the link-prediction
    family).  The GLOBAL PA predictor scores all n² vertex pairs; that
    is a cartesian non-starter at any scale, so like every op in this
    family the candidate set is the shared-neighbor pairs from the
    common wedge scaffolding (pairs at graph distance 2 — exactly the
    pairs a link-prediction pass ranks), with the same ``max_fanout``
    super-node cap and long-id encoding (degrees are id-independent, so
    encoding is output-invariant)."""
    enc = _encode_vertex_ids(edges, out_col, in_col)
    if enc is not None:
        encoded, vocab = enc
        pairs = _preferential_attachment_impl(
            encoded, out_col, in_col, min_common, max_fanout
        )
        decoded = _decode_ids(pairs, vocab, ["a", "b"])
        return decoded.select(
            F.least("a", "b").alias("a"),
            F.greatest("a", "b").alias("b"),
            "n_common",
            "pref_attach",
        )
    return _preferential_attachment_impl(
        edges, out_col, in_col, min_common, max_fanout
    )


def _preferential_attachment_impl(
    edges: DataFrame,
    out_col: str,
    in_col: str,
    min_common: int,
    max_fanout: int | None,
) -> DataFrame:
    from kg.hints import maybe_broadcast

    pairs, deg = _shared_neighbor_pairs(
        edges, out_col, in_col, min_common, max_fanout
    )
    return (
        pairs.join(
            maybe_broadcast(deg.withColumnsRenamed({"id": "a", "deg": "da"})),
            "a",
        )
        .join(
            maybe_broadcast(deg.withColumnsRenamed({"id": "b", "deg": "db"})),
            "b",
        )
        .select(
            "a",
            "b",
            "n_common",
            (F.col("da") * F.col("db")).cast("long").alias("pref_attach"),
        )
    )


def k_hop(
    edges: DataFrame,
    sources: DataFrame,
    k: int,
    id_col: str = "id",
    out_col: str = "out_id",
    in_col: str = "in_id",
    max_frontier: int | None = None,
) -> DataFrame:
    """BFS levels: (id, hops) for every vertex reachable from ``sources``
    in at most ``k`` directed hops (hops = BFS distance, sources at 0).

    Driver-side loop of ≤ k rounds, each: frontier ⋈ edges (equi-join on
    the tail id) → anti-join already-visited → next frontier.  Each
    round's frontier is ``localCheckpoint``ed so the plan stays shallow
    and the emptiness probe is O(1) — the same loop discipline as the
    large/small-star connected-components fixpoint.  ``max_frontier``
    (when set) raises instead of letting a super-node explode the
    expansion silently — at 100 TB you want the guard to fail loudly,
    not an executor OOM three joins later.

    No SQL-oracle entry for the general op (iterative, data-dependent
    round count); the fixed-depth ``two_hop`` IS the SQL-twinned family
    member, and the pytest covers k_hop against a hand-computed BFS.
    """
    e = edges.select(
        F.col(out_col).alias("_src"), F.col(in_col).alias("_dst")
    ).distinct()
    visited = (
        sources.select(F.col(id_col).alias("id"))
        .distinct()
        .withColumn("hops", F.lit(0))
        .localCheckpoint()
    )
    frontier = visited
    for h in range(1, k + 1):
        nxt = (
            frontier.join(e, frontier.id == e._src)
            .select(F.col("_dst").alias("id"))
            .distinct()
            .join(visited, "id", "left_anti")
            .withColumn("hops", F.lit(h))
            .localCheckpoint()
        )
        n = nxt.count()
        if n == 0:
            break
        if max_frontier is not None and n > max_frontier:
            raise ValueError(
                f"k_hop frontier exploded at hop {h}: {n} > max_frontier={max_frontier}"
            )
        visited = visited.unionByName(nxt).localCheckpoint()
        frontier = nxt
    return visited


def shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    rounds: int = 3,
    weight_col: str | None = None,
    out_col: str = "out_id",
    in_col: str = "in_id",
    id_col: str = "id",
) -> DataFrame:
    """Weighted single-source(-set) shortest paths, fixed-round
    Bellman-Ford: (id, dist) for every graph vertex whose cheapest
    directed path from ``sources`` uses at most ``rounds`` edges; dist is
    the min total ``weight_col`` along such paths (BIGINT-exact;
    ``weight_col=None`` = unit weights, i.e. BFS hop distance weighted by
    edge multiplicity rules).  The weighted companion to :func:`k_hop`
    (Gremlin ``g.V(xs).repeat(outE().inV()).times(k)`` with ``sack(sum)``
    over an edge cost).

    Per round: one equi-join of the tentative-distance frame onto the
    edge table + one min hash-aggregation — the same
    join-plus-uniform-agg shape as a PageRank round, and like
    :func:`pagerank` the FIXED round count means the loop UNROLLS INTO
    ONE JOB with no per-round convergence probe, which is also exactly
    what makes the op SQL-twinnable as unrolled CTEs (``graph_sssp``):
    min over BIGINT sums is association-order-free, so results are
    bit-identical across engines and partitionings.  The distance frame
    is vertex-bounded (one row per reached vertex) and broadcast-gated
    into each round's join; the edge frame is checkpointed once and
    never re-shuffles.

    Sources not present in the edge set are ignored (distance is defined
    over the graph's vertices — the :func:`personalized_pagerank`
    contract).  Negative weights are accepted (Bellman-Ford semantics:
    cheapest ≤ ``rounds``-edge walk) but the fixed round count means no
    negative-cycle detection — at 100 TB you bound rounds, not iterate
    to a fixpoint that may not exist.  String vertex ids run
    dictionary-encoded as xxhash64 longs like every iterative op here.
    """
    if rounds < 0:
        raise ValueError(f"rounds must be >= 0, got {rounds}")
    src = sources.select(F.col(id_col).alias("id")).distinct()
    enc = _encode_vertex_ids(edges, out_col, in_col)
    if enc is not None:
        encoded, vocab = enc
        src_enc = src.select(
            F.xxhash64(F.col("id").cast("string")).alias("id")
        )
        seed = vocab.select(F.col("enc").alias("id")).join(src_enc, "id")
        dist = _sssp_loop(encoded, seed, rounds, weight_col, out_col, in_col)
        return _decode_ids(dist, vocab, ["id"])
    verts = (
        edges.select(F.col(out_col).alias("id"))
        .unionAll(edges.select(F.col(in_col).alias("id")))
        .distinct()
    )
    seed = verts.join(src, "id", "left_semi")
    return _sssp_loop(edges, seed, rounds, weight_col, out_col, in_col)


def _sssp_loop(
    edges: DataFrame,
    seed: DataFrame,
    rounds: int,
    weight_col: str | None,
    out_col: str,
    in_col: str,
) -> DataFrame:
    from kg.hints import maybe_broadcast

    w = (
        F.col(weight_col).cast("long")
        if weight_col is not None
        else F.lit(1).cast("long")
    )
    # referenced once per round; without a checkpoint the unrolled plan
    # re-executes the scan+projection per reference (pagerank's
    # ranked_edges discipline)
    e = edges.select(
        F.col(out_col).alias("src"), F.col(in_col).alias("dst"), w.alias("w")
    ).localCheckpoint()
    dist = seed.select("id", F.lit(0).cast("long").alias("dist")).localCheckpoint()
    for i in range(rounds):
        relax = e.join(
            maybe_broadcast(dist.select(F.col("id").alias("src"), "dist")),
            "src",
        ).select(F.col("dst").alias("id"), (F.col("dist") + F.col("w")).alias("dist"))
        dist = (
            dist.unionByName(relax)
            .groupBy("id")
            .agg(F.min("dist").alias("dist"))
        )
        if (i + 1) % 8 == 0 and (i + 1) < rounds:
            dist = dist.localCheckpoint()
    return dist.select("id", "dist")


def harmonic_centrality(
    edges: DataFrame,
    sources: DataFrame,
    rounds: int = 3,
    out_col: str = "out_id",
    in_col: str = "in_id",
    id_col: str = "id",
) -> DataFrame:
    """Harmonic centrality (Boldi & Vigna 2014) estimated from a source
    SAMPLE, truncated at ``rounds`` hops: (id, hc_fp, n_reached) for
    EVERY graph vertex, with hc_fp = Σ_{s ∈ sources, 0 < d(s,id) ≤
    rounds} (10⁶ div d(s,id)) in exact BIGINT micro-units and n_reached
    = how many sources reach the vertex within budget.  The
    reciprocal-distance form handles disconnection natively (an
    unreachable source contributes 0 — the reason Boldi–Vigna prefer it
    to classic closeness, whose Σd blows up on any disconnected pair);
    sampling sources is the Eppstein–Wang estimator shape, the only
    tractable form at web scale where all-pairs BFS is off the table.

    Unlike :func:`k_hop` / :func:`shortest_paths`, the BFS here is
    per-source TRACKED: the distance frame is keyed (source, vertex), so
    each round is one equi-join of that frame onto the (checkpointed,
    deduplicated) edge table + one min hash-aggregation on the composite
    key — |sources| BFS expansions in a single plan, no driver loop per
    source.  State is bounded by |sources| · |reached vertices|; keep
    the sample small relative to the cluster (tens to thousands), which
    is exactly the estimator's regime.  ``1000000 div d`` is pure
    integer division and min/count/sum over BIGINT are
    association-order-free, so a fixed ``rounds`` run is bit-reproducible
    and carries a FULL unrolled-CTE SQL twin (the :func:`pagerank`
    determinism-buys-an-oracle design).

    Distances follow directed out-edges (symmetrize first for the
    undirected form, like the ``graph_khop`` entry does); sources not in
    the edge set are ignored (the :func:`personalized_pagerank`
    contract); multi-edges collapse (BFS hop distance).  String ids run
    dictionary-encoded to longs; hc_fp/n_reached are id-independent, so
    the output is bit-identical either way."""
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    src = sources.select(F.col(id_col).alias("id")).distinct()
    enc = _encode_vertex_ids(edges, out_col, in_col)
    if enc is not None:
        encoded, vocab = enc
        src_enc = src.select(F.xxhash64(F.col("id").cast("string")).alias("id"))
        verts = vocab.select(F.col("enc").alias("id"))
        seed = verts.join(src_enc, "id", "left_semi")
        out = _harmonic_loop(encoded, seed, verts, rounds, out_col, in_col)
        return _decode_ids(out, vocab, ["id"])
    verts = (
        edges.select(F.col(out_col).alias("id"))
        .unionAll(edges.select(F.col(in_col).alias("id")))
        .distinct()
        .localCheckpoint()
    )
    seed = verts.join(src, "id", "left_semi")
    return _harmonic_loop(edges, seed, verts, rounds, out_col, in_col)


def _tracked_dist(
    edges: DataFrame,
    seed: DataFrame,
    rounds: int,
    out_col: str,
    in_col: str,
) -> DataFrame:
    """Per-source tracked BFS shared by :func:`harmonic_centrality` and
    :func:`eccentricity`: → (s, id, dist) for every vertex reachable
    from each seed within ``rounds`` hops (min-distance relaxation)."""
    # BFS ignores multi-edges; referenced once per round — checkpoint so
    # the upstream scan+distinct runs once (the _sssp_loop discipline)
    e = (
        edges.select(F.col(out_col).alias("src"), F.col(in_col).alias("dst"))
        .distinct()
        .localCheckpoint()
    )
    dist = seed.select(
        F.col("id").alias("s"),
        F.col("id"),
        F.lit(0).cast("long").alias("dist"),
    ).localCheckpoint()
    for i in range(rounds):
        relax = dist.join(
            e, dist["id"] == e["src"]
        ).select("s", F.col("dst").alias("id"), (F.col("dist") + 1).alias("dist"))
        dist = (
            dist.unionByName(relax)
            .groupBy("s", "id")
            .agg(F.min("dist").alias("dist"))
        )
        if (i + 1) % 4 == 0 and (i + 1) < rounds:
            dist = dist.localCheckpoint()
    return dist


def _harmonic_loop(
    edges: DataFrame,
    seed: DataFrame,
    verts: DataFrame,
    rounds: int,
    out_col: str,
    in_col: str,
) -> DataFrame:
    from kg.hints import maybe_broadcast

    dist = _tracked_dist(edges, seed, rounds, out_col, in_col)
    hc = (
        dist.filter(F.col("dist") > 0)
        .groupBy("id")
        .agg(
            F.sum(F.expr("1000000 div dist")).alias("hc_fp"),
            F.count("*").cast("long").alias("n_reached"),
        )
    )
    return verts.join(maybe_broadcast(hc), "id", "left").select(
        "id",
        F.coalesce("hc_fp", F.lit(0)).cast("long").alias("hc_fp"),
        F.coalesce("n_reached", F.lit(0)).cast("long").alias("n_reached"),
    )


def components(
    edges: DataFrame, out_col: str = "out_id", in_col: str = "in_id"
) -> DataFrame:
    """Weakly connected components over the edge table: (id, component)
    for every vertex, component = the min member id (deterministic).

    Thin graph-surface wrapper over the engine's canonicalization CC
    (``kg.canonicalize.cc.connected_components``): the same alternating
    large-star/small-star fixpoint that resolves entity ids — O(log n)
    rounds at any scale, with the evidence-gated driver union-find fast
    path for vocabulary-sized graphs.  Exposed here because "how many
    connected subgraphs did my KG build produce" is a first-pass
    diagnostic any consumer of ``kg_nodes``/``kg_edges`` runs, and the
    CC machinery already existed one package over.

    Iterative with a data-dependent round count, but the FIXPOINT is
    SQL-expressible: the ``graph_components`` driver entry twins it
    against a DuckDB recursive reachability CTE (min reachable id per
    vertex) — an independent iteration scheme, so agreement checks the
    labeling itself.  The golden-backed ``kg_entity_map`` gates the same
    engine inside the pipeline; the hand-graph pytest covers edge
    shapes."""
    from kg.canonicalize.cc import connected_components

    und = _undirected(edges, out_col, in_col)
    pairs = und.select(F.col("u").alias("a"), F.col("v").alias("b"))
    cc = connected_components(pairs).select(
        F.col("mention_id").alias("id"), F.col("canonical_id").alias("component")
    )
    # singletons: vertices with no non-loop edge still belong in the map
    verts = (
        edges.select(F.col(out_col).alias("id"))
        .unionAll(edges.select(F.col(in_col).alias("id")))
        .distinct()
    )
    return (
        verts.join(cc, "id", "left")
        .select("id", F.coalesce("component", "id").alias("component"))
    )


def label_propagation(
    edges: DataFrame,
    rounds: int = 2,
    out_col: str = "out_id",
    in_col: str = "in_id",
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan,
    Albert & Kumara 2007) with a deterministic tie-break: (id,
    community) for every vertex after ``rounds`` synchronous updates
    over the undirected simple graph.

    Every vertex starts labeled with its own id; per round each vertex
    adopts the label held by the PLURALITY of its neighbors, ties broken
    by the MINIMUM label (the standard deterministic variant — the
    paper's random tie-break would make the op non-reproducible, and
    determinism is what buys the DuckDB twin, the design rule of
    :func:`pagerank` / :func:`hits`).  Fixed synchronous rounds rather
    than iterate-to-stability: synchronous LPA can 2-cycle on bipartite
    structures, so a convergence probe may never fire — at 100 TB you
    bound rounds (each is a full edge-table pass) exactly like
    :func:`shortest_paths` bounds relaxations.  Isolated vertices (and
    self-loop-only ones — :func:`_undirected` drops loops) keep their
    own id as the community.

    Plan shape per round: one equi-join of the vertex-sized label frame
    (broadcast-gated) onto the bidirectional adjacency + TWO hash aggs —
    a count by (vertex, label), then the plurality argmax as
    ``min(struct(-count, label))``, a pure aggregation with no window
    (per-vertex vote lists never materialize as arrays).  The adjacency
    is checkpointed once so the unrolled multi-round plan re-reads it,
    not the upstream scan.

    Deliberately NOT xxhash64-long-encoded (unlike the other iterative
    ops here): labels ARE vertex ids and the tie-break compares them, so
    a non-order-preserving encoding would change which label wins ties —
    the raw-id path is what matches any external replica of the rule
    (the ``graph_lpa`` twin compares ids as strings on both engines).
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    from kg.hints import maybe_broadcast

    und = _undirected(edges, out_col, in_col)
    adj = (
        und.select(F.col("u").alias("id"), F.col("v").alias("nbr"))
        .unionAll(und.select(F.col("v").alias("id"), F.col("u").alias("nbr")))
        .localCheckpoint()
    )
    lbl = adj.select("id").distinct().withColumn("lbl", F.col("id"))
    for i in range(rounds):
        votes = (
            adj.join(
                maybe_broadcast(lbl.select(F.col("id").alias("nbr"), "lbl")),
                "nbr",
            )
            .groupBy("id", "lbl")
            .agg(F.count("*").alias("cnt"))
        )
        lbl = (
            votes.groupBy("id")
            .agg(
                F.min(
                    F.struct((-F.col("cnt")).alias("nc"), F.col("lbl").alias("l"))
                ).alias("w")
            )
            .select("id", F.col("w.l").alias("lbl"))
        )
        if (i + 1) % 4 == 0 and (i + 1) < rounds:
            lbl = lbl.localCheckpoint()
    verts = (
        edges.select(F.col(out_col).alias("id"))
        .unionAll(edges.select(F.col(in_col).alias("id")))
        .distinct()
    )
    return verts.join(lbl, "id", "left").select(
        "id", F.coalesce("lbl", F.col("id")).alias("community")
    )


def k_core(
    edges: DataFrame,
    k: int = 2,
    rounds: int = 3,
    out_col: str = "out_id",
    in_col: str = "in_id",
) -> DataFrame:
    """Bounded k-core peeling over the undirected simple graph:
    (id, core_degree) for every vertex still carrying an edge after
    ``rounds`` synchronous removals of vertices with degree < ``k``,
    with its residual degree in the surviving subgraph.

    The k-core (Seidman 1983) is the standard density/cohesion filter a
    KG consumer runs to separate the connected "core" of an extracted
    graph from its peeled periphery (spam/noise vertices shed first —
    the graph analogue of the corpus quality gates in ``kg/ops/text.py``).
    Peeling is run for a FIXED round count rather than to the fixpoint:
    each round is a full pass over the surviving edge set, so at 100 TB
    you bound rounds exactly like :func:`pagerank` bounds its power
    iterations and :func:`shortest_paths` its relaxations — and the
    fixed, data-independent count is what buys the full unrolled-CTE
    DuckDB twin (``graph_kcore``).  The sequence converges from above
    (each round's survivor set shrinks monotonically toward the true
    k-core; a round that removes nothing has reached it), so bounded
    output is a deterministic over-approximation, identical on any
    engine that applies the same rule.

    Plan shape per round: ONE hash aggregation for degrees (map-side
    combine over the endpoint union) + the survivor semi-join applied to
    both endpoints — the survivor frame is vertex-bounded and
    broadcast-gated, so at cluster scale each round is one agg shuffle
    plus two broadcast semi-joins, never an edge×edge join.  Each
    round's survivor frame is localCheckpointed (the :func:`k_hop`
    per-round discipline — see the in-loop comment for why a fully lazy
    unroll is 3^rounds here) and the edge frame every 4 rounds, so the
    plan stays a linear semi-join chain.  String vertex ids run
    dictionary-encoded as xxhash64 longs (:func:`_encode_vertex_ids`):
    degree thresholds only compare COUNTS, never id values, so the
    encoding is output-invariant by construction.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    enc = _encode_vertex_ids(edges, out_col, in_col)
    if enc is not None:
        encoded, vocab = enc
        core = _k_core_impl(encoded, k, rounds, out_col, in_col)
        return _decode_ids(core, vocab, ["id"])
    return _k_core_impl(edges, k, rounds, out_col, in_col)


def _k_core_impl(
    edges: DataFrame, k: int, rounds: int, out_col: str, in_col: str
) -> DataFrame:
    from kg.hints import maybe_broadcast

    def deg(e: DataFrame) -> DataFrame:
        ends = e.select(F.col("u").alias("id")).unionAll(
            e.select(F.col("v").alias("id"))
        )
        return ends.groupBy("id").agg(F.count("*").alias("core_degree"))

    e = _undirected(edges, out_col, in_col).localCheckpoint()
    for i in range(rounds):
        # the survivor frame is localCheckpointed EVERY round (the k_hop
        # per-round discipline, not the sssp unroll): a round references
        # the prior edge frame three times (degree union ×2 + the filter
        # join), so a fully lazy loop re-inlines it 3^rounds times —
        # materializing the vertex-bounded survivor set keeps the plan a
        # LINEAR chain of broadcast semi-joins over the checkpointed
        # edge base, at the cost of one small job per round.
        keep = (
            deg(e)
            .filter(F.col("core_degree") >= k)
            .select("id")
            .localCheckpoint()
        )
        kd = maybe_broadcast(keep)
        e = e.join(
            kd.select(F.col("id").alias("u")), "u", "left_semi"
        ).join(kd.select(F.col("id").alias("v")), "v", "left_semi")
        if (i + 1) % 4 == 0 and (i + 1) < rounds:
            e = e.localCheckpoint()
    return deg(e)


def transitivity(
    edges: DataFrame, out_col: str = "out_id", in_col: str = "in_id"
) -> DataFrame:
    """Global transitivity (global clustering coefficient) of the
    undirected simple graph: ONE row (n_wedges, n_closed, transitivity)
    where n_wedges = Σ_v d(v)·(d(v)−1)/2 (paths of length 2 centered
    anywhere), n_closed = Σ_v triangles(v) = 3·T, and transitivity =
    n_closed / n_wedges ∈ [0, 1] — the whole-graph companion to the
    per-vertex :func:`clustering_coefficient` (Newman's C, the fraction
    of wedges that close).  The natural third structural diagnostic
    after the degree histogram and :func:`assortativity`: how clustered
    is the KG build overall.

    Exactness contract: wedge counts per vertex are exact BIGINTs
    (d·(d−1) is always even, so the integer halving loses nothing); the
    corpus-wide sums run as decimal(38,0) like :func:`assortativity`'s
    cross terms (10^9-degree hubs square to 10^18 per vertex — the SUM
    is what overflows a long at scale, and ANSI mode would raise);
    output counts are BIGINT (bounded for any graph below ~10^18
    wedges) and only the final ratio is floating point, rounded to 6dp —
    the exact-then-round twin contract every float here follows.

    Plan shape: the :func:`triangles` chain (degree-oriented bounded
    wedge join) + one vertex-sized degree agg, each reduced to a single
    row, crossed (1×1) for the ratio — constant-size reduce at any
    scale, no new shuffle class beyond ``triangles`` itself.  The
    undirected-distinct and degree frames are materialized ONCE and fed
    to the triangle chain (not recomputed by it), ids stay encoded
    end-to-end (both counts are id-free, so the decode dim join is
    skipped entirely), and string ids still get the narrow 8-byte wedge
    shuffle via :func:`_encode_vertex_ids`."""
    dec = "decimal(38,0)"
    enc = _encode_vertex_ids(edges, out_col, in_col)
    e = enc[0] if enc is not None else edges
    und = _undirected(e, out_col, in_col).localCheckpoint()
    deg = (
        und.select(F.col("u").alias("id"))
        .unionAll(und.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
        .localCheckpoint()
    )
    wedges = deg.agg(
        F.coalesce(
            F.sum(F.expr("div(deg * (deg - 1), 2)").cast(dec)),
            F.lit(0).cast(dec),
        ).alias("n_wedges")
    )
    closed = _triangles_impl(e, out_col, in_col, und=und, deg=deg).agg(
        F.coalesce(F.sum("n_triangles"), F.lit(0)).cast(dec).alias("n_closed")
    )
    return wedges.crossJoin(closed).select(
        F.col("n_wedges").cast("long").alias("n_wedges"),
        F.col("n_closed").cast("long").alias("n_closed"),
        F.round(
            F.when(
                F.col("n_wedges") != F.lit(0),
                F.col("n_closed").cast("double")
                / F.col("n_wedges").cast("double"),
            ),
            6,
        ).alias("transitivity"),
    )


def strongly_connected_components(
    edges: DataFrame,
    trips: int = 2,
    rounds: int = 6,
    trim_rounds: int = 2,
    out_col: str = "out_id",
    in_col: str = "in_id",
) -> DataFrame:
    """Strongly connected components of the DIRECTED edge table:
    (id, scc) for every vertex, scc = the min member id of the vertex's
    SCC — mutual-recursion clusters in a code KG (A imports B imports A),
    the directed refinement of :func:`components`.

    Trim + forward/backward min-label coloring (the FW-BW-Trim family —
    Orzan 2004, McLendon et al. 2005 — re-expressed relationally).  Per
    trip over the unresolved subgraph:

    1. TRIM (``trim_rounds`` passes): a vertex with in-degree 0 or
       out-degree 0 in the remaining graph is its own singleton SCC —
       assign and remove.  Peels DAG tails so the coloring below never
       pays propagation rounds for acyclic structure.
    2. COLOR: propagate min vertex ids forward along edges and backward
       against them (up to ``rounds`` synchronous relaxations each,
       with ONE convergence probe after the budget: a further round
       that changes nothing proves the fixpoint).  At the fixpoint
       f(v) = min ancestor-or-self and b(v) = min descendant-or-self
       are each CONSTANT across an SCC, and f(v) = b(v) = m holds iff
       m is the min id of SCC(v) — so assignment is all-or-nothing per
       SCC and never splits one.  If the probe shows the budget did
       NOT reach the fixpoint, the trip assigns nothing from coloring
       (trim progress still stands): bounded rounds must degrade to
       "unresolved", never to a wrong label.

    Vertices still unresolved after ``trips`` trips return scc = NULL —
    the honest bounded-compute answer (contrast :func:`k_core`'s
    monotone over-approximation; an own-id default here could SPLIT a
    real SCC, which is a wrong answer, not a coarser one).  Sizing:
    each trip resolves at least the SCC containing the remaining min id
    (plus every SCC whose min beats all its outside ancestors' and
    descendants' ids, and everything trim peels), and ``rounds`` must
    cover the remaining graph's directed diameter — on real KG builds
    (short diameter, DAG-heavy) the defaults resolve everything in one
    or two trips.  At 100 TB each relaxation is one edge-table
    equi-join + one min hash-agg (the :func:`shortest_paths` round
    shape) with the vertex-bounded label frame broadcast-gated, and
    each trim pass is one degree agg + two semi-joins (:func:`k_core`'s
    round shape).

    Deliberately NOT xxhash64-long-encoded (the :func:`label_propagation`
    rationale): labels are MIN OVER VERTEX IDS, so a non-order-preserving
    encoding would elect a different representative than any external
    replica of the rule; ids compare as the caller's strings on both
    engines.  Self-loops are dropped (a self-loop never changes SCC
    membership); self-loop-only vertices trim to singletons in trip 1.
    """
    if trips < 1:
        raise ValueError(f"trips must be >= 1, got {trips}")
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    if trim_rounds < 0:
        raise ValueError(f"trim_rounds must be >= 0, got {trim_rounds}")
    from kg.hints import maybe_broadcast

    e = (
        edges.select(F.col(out_col).alias("src"), F.col(in_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    verts = (
        edges.select(F.col(out_col).alias("id"))
        .unionAll(edges.select(F.col(in_col).alias("id")))
        .distinct()
        .localCheckpoint()
    )
    assigned: list[DataFrame] = []

    def _min_label(ev: DataFrame, vs: DataFrame, fwd: bool) -> DataFrame | None:
        """Min-id propagation over ``ev`` (forward: labels flow src→dst,
        backward: dst→src) from own-id seeds; None when ``rounds`` + the
        probe round did not reach the fixpoint."""
        a, b = ("src", "dst") if fwd else ("dst", "src")
        lbl = vs.select("id", F.col("id").alias("lbl")).localCheckpoint()

        def relax(cur: DataFrame) -> DataFrame:
            step = ev.join(
                maybe_broadcast(cur.select(F.col("id").alias(a), "lbl")), a
            ).select(F.col(b).alias("id"), "lbl")
            return (
                cur.unionByName(step).groupBy("id").agg(F.min("lbl").alias("lbl"))
            )

        def changed(nxt: DataFrame, prev: DataFrame) -> bool:
            return (
                nxt.join(prev.withColumnRenamed("lbl", "prev"), "id")
                .filter(F.col("lbl") != F.col("prev"))
                .limit(1)
                .count()
                > 0
            )

        for _ in range(rounds):
            # each round references the prior frame twice (union + join):
            # checkpoint per round or the unrolled plan is 2^rounds
            # (the k_core discipline, not the sssp linear unroll).  The
            # per-round probe is a vertex-sized join — far cheaper than
            # the edge-join round it saves once labels stop moving
            # (min-label propagation converges in diameter rounds, the
            # budget is a worst-case bound)
            nxt = relax(lbl).localCheckpoint()
            if not changed(nxt, lbl):
                return nxt  # proven fixpoint within budget
            lbl = nxt
        # the budget may have ended exactly AT the fixpoint: one last probe
        return lbl if not changed(relax(lbl), lbl) else None

    def _restrict(ev: DataFrame, vs: DataFrame) -> DataFrame:
        vd = maybe_broadcast(vs)
        return ev.join(
            vd.select(F.col("id").alias("src")), "src", "left_semi"
        ).join(
            vd.select(F.col("id").alias("dst")), "dst", "left_semi"
        ).localCheckpoint()

    n_left = verts.count()
    for _ in range(trips):
        if n_left == 0:
            break
        # edges restricted to the unresolved subgraph FIRST (not only
        # inside the trim loop): with trim_rounds=0 a stale edge into an
        # already-assigned vertex would otherwise leak that vertex back
        # into the coloring frames and duplicate its output row
        e = _restrict(e, verts)
        for _ in range(trim_rounds):
            srcs = e.select(F.col("src").alias("id")).distinct()
            dsts = e.select(F.col("dst").alias("id")).distinct()
            both = srcs.join(dsts, "id", "left_semi").localCheckpoint()
            trimmed = verts.join(both, "id", "left_anti").select(
                "id", F.col("id").alias("scc")
            )
            assigned.append(trimmed.localCheckpoint())
            verts = both
            e = _restrict(e, verts)
        f = _min_label(e, verts, fwd=True)
        bk = _min_label(e, verts, fwd=False) if f is not None else None
        if f is not None and bk is not None:
            done = (
                f.join(bk.withColumnRenamed("lbl", "blbl"), "id")
                .filter(F.col("lbl") == F.col("blbl"))
                .select("id", F.col("lbl").alias("scc"))
                .localCheckpoint()
            )
            assigned.append(done)
            verts = verts.join(done, "id", "left_anti").localCheckpoint()
        # a trip that neither trimmed nor assigned anything is provably
        # stuck (the remaining subgraph and budgets are unchanged, so
        # every further trip would deterministically repeat it): stop
        # and return the honest NULLs now
        n_now = verts.count()
        if n_now == n_left:
            break
        n_left = n_now

    out = verts.select("id", F.lit(None).cast(verts.schema["id"].dataType).alias("scc"))
    for frame in assigned:
        out = out.unionByName(frame)
    return out


def k_truss(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 2,
    out_col: str = "out_id",
    in_col: str = "in_id",
) -> DataFrame:
    """Bounded k-truss peeling (Cohen 2008) over the undirected simple
    graph: (u, v, support) for every edge surviving ``rounds``
    synchronous removals of edges with support < k−2, with its support
    (triangles containing the edge) in the surviving subgraph — the
    EDGE-level cohesion filter next to :func:`k_core`'s vertex-level one
    (every edge of a k-truss joins k−2 triangles; trusses are the
    standard denser-than-core community seeds).

    Fixed synchronous rounds, converging from above to the true k-truss
    exactly like :func:`k_core` peeling — bounded output is a
    deterministic over-approximation, identical on any engine applying
    the same rule, which is what buys the unrolled-CTE DuckDB twin
    (``graph_ktruss``).  ``k=2`` keeps every edge (support ≥ 0), the
    standard degenerate case.

    Plan shape per round: one degree-oriented triangle enumeration over
    the surviving edge set (:func:`_triangle_triples` — the bounded
    O(√m)-wedge join of :func:`triangles`, never a raw neighbor
    self-join), one explode to the three canonical member edges, one
    hash agg for support, and one broadcast-gated filter join back onto
    the edge frame.  Each round's survivor edge frame is
    localCheckpointed (the :func:`k_core` discipline — a lazy unroll
    re-inlines the triangle chain exponentially).  String ids run
    long-encoded (support counts are id-independent; decode restores the
    caller's ids and the u < v canonical order on them)."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    enc = _encode_vertex_ids(edges, out_col, in_col)
    if enc is not None:
        encoded, vocab = enc
        out = _k_truss_impl(encoded, k, rounds, out_col, in_col)
        decoded = _decode_ids(out, vocab, ["u", "v"])
        return decoded.select(
            F.least("u", "v").alias("u"),
            F.greatest("u", "v").alias("v"),
            "support",
        )
    return _k_truss_impl(edges, k, rounds, out_col, in_col)


def _k_truss_impl(
    edges: DataFrame, k: int, rounds: int, out_col: str, in_col: str
) -> DataFrame:
    from kg.hints import maybe_broadcast

    def support(e: DataFrame) -> DataFrame:
        deg = (
            e.select(F.col("u").alias("id"))
            .unionAll(e.select(F.col("v").alias("id")))
            .groupBy("id")
            .agg(F.count("*").alias("deg"))
            .localCheckpoint()
        )
        tri = _triangle_triples(e, deg)
        member_edges = tri.select(
            F.explode(
                F.array(
                    F.struct(
                        F.least("a", "b").alias("u"),
                        F.greatest("a", "b").alias("v"),
                    ),
                    F.struct(
                        F.least("a", "c").alias("u"),
                        F.greatest("a", "c").alias("v"),
                    ),
                    F.struct(
                        F.least("b", "c").alias("u"),
                        F.greatest("b", "c").alias("v"),
                    ),
                )
            ).alias("m")
        ).select("m.u", "m.v")
        sup = member_edges.groupBy("u", "v").agg(
            F.count("*").cast("long").alias("support")
        )
        return e.join(maybe_broadcast(sup), ["u", "v"], "left").select(
            "u", "v", F.coalesce("support", F.lit(0).cast("long")).alias("support")
        )

    e = _undirected(edges, out_col, in_col).localCheckpoint()
    for _ in range(rounds):
        e = (
            support(e)
            .filter(F.col("support") >= k - 2)
            .select("u", "v")
            .localCheckpoint()
        )
    # support reported in the FINAL surviving subgraph (the k_core
    # residual-degree contract), not the stale pre-filter counts
    return support(e)


def assortativity(
    edges: DataFrame, out_col: str = "out_id", in_col: str = "in_id"
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002) over the undirected
    simple graph: ONE row (n_edges, assortativity) — the Pearson
    correlation of endpoint degrees across edges, in [-1, 1].  Positive
    = hubs attach to hubs (social-network shape), negative = hubs attach
    to leaves (star/infrastructure shape) — the one-number structural
    diagnostic a consumer runs right after :func:`degree_distribution`
    to see WHICH power-law graph the KG build produced.

    Computed from the symmetrized edge list (each undirected edge
    contributes both ordered endpoint pairs, the standard convention —
    makes the two sum terms equal by construction):

        r = (M·Σjk − (Σj)²/1) / (M·Σj² − (Σj)²),  over 2m ordered pairs

    with all sums over exact BIGINT degree products (degrees are bounded
    by vertex count, so j·k fits comfortably) and ONLY the final
    division in floating point, rounded to 6dp — the same
    integer-exact-then-round contract every twinned float op here uses
    (:func:`pagerank` micro-units, ``clustering_coefficient`` 6dp).

    Plan shape: one degree hash agg, the vertex-bounded degree dim
    broadcast-gated onto each endpoint, then ONE global aggregation —
    no per-vertex state survives, so the op is a constant-size reduce at
    any scale.  Degenerate graphs (every vertex the same degree, e.g. a
    clean cycle: zero variance) return NULL assortativity rather than a
    division blow-up, matching SQL semantics on both engines.
    """
    from kg.hints import maybe_broadcast

    und = _undirected(edges, out_col, in_col)
    degs = (
        und.select(F.col("u").alias("id"))
        .unionAll(und.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("d"))
    )
    dim = maybe_broadcast(degs)
    pairs = und.select("u", "v").unionAll(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    jk = (
        pairs.join(dim.select(F.col("id").alias("u"), F.col("d").alias("dj")), "u")
        .join(dim.select(F.col("id").alias("v"), F.col("d").alias("dk")), "v")
    )
    # sums and cross products as exact decimal(38,0): per-pair dj·dk fits
    # a BIGINT, but the corpus-wide Σdj·dk and the M·Σ cross terms do not
    # at 10^11 edges — ANSI mode would raise on the long overflow, and
    # silently widening to double would break the exact-then-round twin
    # contract.  10^38 bounds every term for any graph below ~10^12
    # edges; DuckDB's HUGEINT sums mirror it exactly.
    dec = "decimal(38,0)"
    agg = jk.agg(
        F.count("*").cast(dec).alias("m2"),
        F.sum((F.col("dj") * F.col("dk")).cast(dec)).alias("sjk"),
        F.sum(F.col("dj").cast(dec)).alias("sj"),
        F.sum((F.col("dj") * F.col("dj")).cast(dec)).alias("sjj"),
    )
    num = F.col("m2") * F.col("sjk") - F.col("sj") * F.col("sj")
    den = F.col("m2") * F.col("sjj") - F.col("sj") * F.col("sj")
    return agg.select(
        (F.col("m2") / F.lit(2)).cast("long").alias("n_edges"),
        F.round(
            F.when(den != F.lit(0), num.cast("double") / den.cast("double")),
            6,
        ).alias("assortativity"),
    )


def random_walks(
    edges: DataFrame,
    walk_length: int = 4,
    walks_per_vertex: int = 1,
    seed: int = 0,
    out_col: str = "out_id",
    in_col: str = "in_id",
) -> DataFrame:
    """Deterministic DeepWalk-style random walks over the directed graph
    → ``(walk_id, step, vertex)`` long format: ``walks_per_vertex``
    walks of ≤ ``walk_length`` steps start at every vertex with at
    least one out-edge — the corpus-generation step of
    DeepWalk/node2vec graph-embedding training (walks are the
    "sentences" a skip-gram model consumes).

    Randomness contract (the repo's determinism rule — resume/golden
    tests depend on reproducible output, and a seeded PRNG has no
    cross-engine twin): the neighbor choice at step ``t`` of walk ``w``
    is hash-ranked — among the current vertex's out-neighbors pick
    ``argmin md5(seed:walk_id:t:neighbor)`` with neighbor-asc
    tie-break.  Every choice is a pure function of (seed, walk, step,
    candidate), so walks are reproducible, independent across walks and
    steps (each step re-keys the hash), and exactly twinnable as
    unrolled SQL CTEs.  Walks stop early at out-degree-0 vertices (no
    padding rows).  Vertex ids are NOT dictionary-encoded here: the
    choice hashes the id VALUE (same rationale as
    :func:`label_propagation`'s min-label tie-break).

    Plan shape (100 TB): per step ONE equi-join of the walk frame
    (|V|·walks_per_vertex rows, narrow) against the edge list plus ONE
    hash agg (argmin as ``min(struct(hash, dst))`` — no window over the
    candidate blow-up); each round's walk frame is localCheckpointed so
    the plan stays shallow (the k_hop/CC loop discipline).  Duplicate
    edges need no pre-distinct: argmin over repeated identical
    (hash, dst) pairs is unchanged, so the edge scan stays
    shuffle-free."""
    if walk_length < 1:
        raise ValueError(f"walk_length must be >= 1, got {walk_length}")
    if walks_per_vertex < 1:
        raise ValueError(
            f"walks_per_vertex must be >= 1, got {walks_per_vertex}"
        )
    e = edges.select(
        F.col(out_col).alias("_src"), F.col(in_col).alias("_dst")
    )
    cur = (
        e.select(F.col("_src").alias("v"))
        .distinct()
        .select(
            "v",
            F.explode(
                F.sequence(F.lit(0), F.lit(walks_per_vertex - 1))
            ).alias("_rep"),
        )
        .select(
            F.concat_ws("#", F.col("v"), F.col("_rep")).alias("walk_id"),
            "v",
        )
        .localCheckpoint()
    )
    out = cur.select("walk_id", F.lit(0).alias("step"), F.col("v").alias("vertex"))
    for t in range(1, walk_length + 1):
        h = F.md5(
            F.concat_ws(
                ":",
                F.lit(str(seed)),
                F.col("walk_id"),
                F.lit(str(t)),
                F.col("_dst"),
            )
        )
        cur = (
            cur.join(e, cur.v == e._src)
            .groupBy("walk_id")
            .agg(
                F.min(
                    F.struct(h.alias("h"), F.col("_dst").alias("d"))
                ).alias("_m")
            )
            .select("walk_id", F.col("_m.d").alias("v"))
            .localCheckpoint()
        )
        out = out.unionByName(
            cur.select(
                "walk_id", F.lit(t).alias("step"), F.col("v").alias("vertex")
            )
        )
    return out


def cooccurrence(
    edges: DataFrame,
    out_col: str = "out_id",
    in_col: str = "in_id",
    min_count: int = 1,
    max_fanout: int | None = None,
) -> DataFrame:
    """Bipartite co-occurrence projection → ``(a, b, n_shared)`` with
    ``a < b``: pairs of ``in_col`` items appearing under the same
    ``out_col`` context, weighted by the number of shared contexts —
    the co-mention/market-basket graph (entities cited by the same
    document, parts ordered together) that KG link prediction and
    item-item recommenders start from.

    ``max_fanout`` drops contexts with more than that many distinct
    items BEFORE the wedge join: a 10^5-item context contributes
    ~5·10^9 pairs (d·(d−1)/2 blow-up) and, like a super-node in
    :func:`neighbor_jaccard`, carries almost no pairwise signal — the
    same evidence the cap discards there.  ``min_count`` prunes the
    long tail of single-context coincidences after the count.

    Plan shape (100 TB): distinct → capped bucket self-join on the
    context key → ONE hash agg; string ids are dictionary-encoded to
    xxhash64 longs for the wedge shuffle (collision-checked, the
    :func:`_encode_vertex_ids` contract) and pairs re-canonicalized as
    (least, greatest) AFTER decoding, so the output orientation is
    defined on the caller's ids, not on hash order."""
    pairs, _, vocab = _cooc_pairs(
        edges, out_col, in_col, min_count, max_fanout
    )
    if vocab is not None:
        pairs = _decode_ids(pairs, vocab, ["a", "b"])
    return pairs.select(
        F.least("a", "b").alias("a"),
        F.greatest("a", "b").alias("b"),
        "n_shared",
    )


def _cooc_pairs(
    edges: DataFrame,
    out_col: str,
    in_col: str,
    min_count: int,
    max_fanout: int | None,
) -> tuple[DataFrame, DataFrame, DataFrame | None]:
    """Shared co-occurrence scaffolding → ``(pairs, e, vocab)``:
    ``pairs`` = (a, b, n_shared) in ENCODED id space (a < b by encoded
    order), ``e`` = the capped distinct (ctx, item) frame the pairs were
    counted over (localCheckpointed — callers may derive marginals from
    it without re-running the cap), ``vocab`` = decode dim or None."""
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    from kg.hints import maybe_broadcast

    enc = _encode_vertex_ids(edges, out_col, in_col)
    src, vocab = (enc[0], enc[1]) if enc is not None else (edges, None)
    e = src.select(
        F.col(out_col).alias("ctx"), F.col(in_col).alias("item")
    ).distinct()
    if max_fanout is not None:
        ok = (
            e.groupBy("ctx")
            .agg(F.count("*").alias("_n"))
            .filter(F.col("_n") <= max_fanout)
            .select("ctx")
        )
        e = e.join(maybe_broadcast(ok), "ctx", "left_semi")
    # consumed by both sides of the wedge join (and marginal counts)
    e = e.localCheckpoint()
    pairs = (
        e.alias("x")
        .join(
            e.alias("y"),
            (F.col("x.ctx") == F.col("y.ctx"))
            & (F.col("x.item") < F.col("y.item")),
        )
        .groupBy(
            F.col("x.item").alias("a"), F.col("y.item").alias("b")
        )
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_count)
    )
    return pairs, e, vocab


def cooccurrence_pmi(
    edges: DataFrame,
    out_col: str = "out_id",
    in_col: str = "in_id",
    min_count: int = 1,
    max_fanout: int | None = None,
) -> DataFrame:
    """Pointwise mutual information over the co-occurrence projection →
    ``(a, b, n_shared, pmi_fp)``: the association statistic behind PPMI
    word/entity embeddings and KG relatedness scoring,

        ``pmi = ln( P(a,b) / (P(a)·P(b)) )
              = ln( n_shared · N / (cnt_a · cnt_b) )``

    with ``N`` = distinct contexts and ``cnt_x`` = contexts containing
    ``x``, all counted over the SAME capped distinct edge frame the
    pairs come from (so the distribution and its marginals agree).
    ``pmi_fp`` is fixed-pointed to BIGINT micro-units the moment the
    single ``ln`` is taken (the repo's one-transcendental discipline;
    the ratio is formed as exact BIGINT products cast to double, an
    identical IEEE expression on both engines).  Positive pmi_fp =
    co-occurring more than independence predicts.

    Plan shape: the :func:`cooccurrence` wedge + ONE item-marginal hash
    agg over the checkpointed edge frame + a lazy 1-row context-count
    scalar (no driver action), joined broadcast-gated."""
    from kg.hints import maybe_broadcast

    pairs, e, vocab = _cooc_pairs(
        edges, out_col, in_col, min_count, max_fanout
    )
    cnt = e.groupBy("item").agg(F.count("*").alias("cnt"))
    nctx = e.agg(F.countDistinct("ctx").alias("n_ctx"))
    scored = (
        pairs.join(
            maybe_broadcast(
                cnt.select(F.col("item").alias("a"), F.col("cnt").alias("_ca"))
            ),
            "a",
        )
        .join(
            maybe_broadcast(
                cnt.select(F.col("item").alias("b"), F.col("cnt").alias("_cb"))
            ),
            "b",
        )
        .crossJoin(F.broadcast(nctx))
        .select(
            "a",
            "b",
            "n_shared",
            F.floor(
                F.lit(1000000.0)
                * F.log(
                    (
                        F.col("n_shared").cast("double")
                        * F.col("n_ctx").cast("double")
                    )
                    / (
                        F.col("_ca").cast("double")
                        * F.col("_cb").cast("double")
                    )
                )
            )
            .cast("long")
            .alias("pmi_fp"),
        )
    )
    if vocab is not None:
        scored = _decode_ids(scored, vocab, ["a", "b"])
    return scored.select(
        F.least("a", "b").alias("a"),
        F.greatest("a", "b").alias("b"),
        "n_shared",
        "pmi_fp",
    )


def skipgram_pairs(
    walks: DataFrame,
    window: int = 2,
    walk_col: str = "walk_id",
    step_col: str = "step",
    vertex_col: str = "vertex",
) -> DataFrame:
    """Skip-gram training pairs from :func:`random_walks` output →
    ``(walk_id, center, context, delta)``: for every walk position,
    every other vertex of the SAME walk within ``window`` steps
    (``delta`` = context step − center step, ∈ [−window, window] \\ 0)
    — the (center, context) examples a word2vec/DeepWalk skip-gram
    trainer consumes, with the walk as the sentence.

    Plan shape: ONE equi-join of the walk frame with itself on the
    walk id plus a step-distance band filter — per walk the candidate
    set is |walk|² with |walk| ≤ walk_length+1 (a small constant), so
    the join output is O(|walks| · walk_length · window), never
    corpus-quadratic.  No Python, no window function."""
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    x = walks.select(
        F.col(walk_col).alias("_w"),
        F.col(step_col).alias("_s"),
        F.col(vertex_col).alias("center"),
    )
    y = walks.select(
        F.col(walk_col).alias("_w"),
        F.col(step_col).alias("_t"),
        F.col(vertex_col).alias("context"),
    )
    return (
        x.join(y, "_w")
        .filter(
            (F.col("_t") != F.col("_s"))
            & (F.abs(F.col("_t") - F.col("_s")) <= window)
        )
        .select(
            F.col("_w").alias(walk_col),
            "center",
            "context",
            (F.col("_t") - F.col("_s")).cast("int").alias("delta"),
        )
    )


def graph_summary(
    edges: DataFrame,
    out_col: str = "out_id",
    in_col: str = "in_id",
) -> DataFrame:
    """One-row graph profile → ``(n_vertices, n_edges, n_self_loops,
    density, reciprocity)`` — the first query anyone runs on a new
    graph sink.

    Semantics (directed, on the DISTINCT edge set): ``n_edges`` counts
    distinct (src, dst) pairs including self-loops; ``density`` =
    n_edges / (n·(n−1)) over non-loop edges (the directed simple-graph
    convention); ``reciprocity`` = fraction of non-loop distinct edges
    whose reverse edge also exists.  Ratios 6dp, NULL when undefined
    (single-vertex / zero-edge graphs), the assortativity contract.

    Plan shape: ONE distinct, a vertex-set agg, and a self-join on the
    reversed key for reciprocity — all counts reduced to one row, no
    driver action until the caller collects.  Ids are not encoded: the
    op is two hash aggs + one equi-join, not an iterative chain."""
    e = edges.select(
        F.col(out_col).alias("s"), F.col(in_col).alias("d")
    ).distinct().localCheckpoint()
    verts = (
        e.select(F.col("s").alias("id"))
        .unionAll(e.select("d"))
        .agg(F.countDistinct("id").alias("n_vertices"))
    )
    nonloop = e.filter(F.col("s") != F.col("d"))
    recip = nonloop.alias("x").join(
        nonloop.alias("y"),
        (F.col("x.s") == F.col("y.d")) & (F.col("x.d") == F.col("y.s")),
        "left_semi",
    )
    counts = e.agg(
        F.count("*").alias("n_edges"),
        F.sum(F.when(F.col("s") == F.col("d"), 1).otherwise(0))
        .cast("long")
        .alias("n_self_loops"),
    )
    rc = recip.agg(F.count("*").alias("_nr"))
    return (
        counts.crossJoin(F.broadcast(verts))
        .crossJoin(F.broadcast(rc))
        .select(
            "n_vertices",
            "n_edges",
            "n_self_loops",
            F.round(
                F.when(
                    F.col("n_vertices") > 1,
                    (F.col("n_edges") - F.col("n_self_loops")).cast("double")
                    / (
                        F.col("n_vertices").cast("double")
                        * (F.col("n_vertices") - 1).cast("double")
                    ),
                ),
                6,
            ).alias("density"),
            F.round(
                F.when(
                    (F.col("n_edges") - F.col("n_self_loops")) > 0,
                    F.col("_nr").cast("double")
                    / (F.col("n_edges") - F.col("n_self_loops")).cast(
                        "double"
                    ),
                ),
                6,
            ).alias("reciprocity"),
        )
    )


def betweenness(
    edges: DataFrame,
    sources: DataFrame,
    rounds: int = 3,
    out_col: str = "out_id",
    in_col: str = "in_id",
    id_col: str = "id",
) -> DataFrame:
    """Sampled-source betweenness centrality (Brandes 2001 dependency
    accumulation; source sampling per Brandes & Pich 2007; horizon
    truncated at ``rounds`` hops — the "k-betweenness" bounded-distance
    variant, the only tractable form at web scale where exact
    betweenness is O(V·E)) → ``(id, bc_fp, n_sources)`` for EVERY graph
    vertex.

    ``bc_fp = Σ_s δ_s(v)`` in exact BIGINT micro-units, where δ_s is
    Brandes' dependency of source s on v over the ≤``rounds``-hop
    shortest-path DAG: walking levels top-down,
    ``δ(u) = Σ_{w ∈ succ(u)} floor(σ(u) · (10⁶ + δ(w)) / σ(w))`` with
    σ the exact integer shortest-path counts from the forward BFS.
    Every multiply runs in decimal(38,0) and every division is SQL
    ``div`` (exact floor), so δ — and therefore the whole op — is
    association-order-free, bit-reproducible, and carries a FULL
    unrolled-CTE DuckDB twin (the :func:`pagerank`
    determinism-buys-an-oracle design).  ``n_sources`` counts the
    sampled sources whose DAG contains the vertex at depth ≥ 1 (the
    estimator's per-vertex support).

    Plan shape (100 TB): the forward phase is the per-source TRACKED
    BFS of :func:`harmonic_centrality` — state keyed (source, vertex) —
    plus a σ path-count sum per frontier; each of the ``rounds``
    forward rounds is one frontier⋈edges equi-join + one hash agg + one
    anti-join against the seen set (frontier state localCheckpointed
    per round so the growing plan never re-inlines).  The backward
    phase is ``rounds`` more joins, each level-(ℓ+1)-sized, never
    corpus-sized.  State is bounded by |sources|·|reached| — keep the
    sample small (tens to thousands), which is the estimator's regime.

    Distances follow directed out-edges (symmetrize first for the
    undirected form); sources not in the edge set are ignored (the
    :func:`personalized_pagerank` contract); multi-edges collapse (BFS
    DAG).  String ids run dictionary-encoded to longs; bc_fp is
    id-independent (sums only, no id tie-breaks), so output is
    bit-identical either way.
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    src = sources.select(F.col(id_col).alias("id")).distinct()
    enc = _encode_vertex_ids(edges, out_col, in_col)
    if enc is not None:
        encoded, vocab = enc
        src_enc = src.select(
            F.xxhash64(F.col("id").cast("string")).alias("id")
        )
        verts = vocab.select(F.col("enc").alias("id"))
        seed = verts.join(src_enc, "id", "left_semi")
        out = _betweenness_loop(encoded, seed, verts, rounds, out_col, in_col)
        return _decode_ids(out, vocab, ["id"])
    verts = (
        edges.select(F.col(out_col).alias("id"))
        .unionAll(edges.select(F.col(in_col).alias("id")))
        .distinct()
        .localCheckpoint()
    )
    seed = verts.join(src, "id", "left_semi")
    return _betweenness_loop(edges, seed, verts, rounds, out_col, in_col)


def _betweenness_loop(
    edges: DataFrame,
    seed: DataFrame,
    verts: DataFrame,
    rounds: int,
    out_col: str,
    in_col: str,
) -> DataFrame:
    from kg.hints import maybe_broadcast

    dec = "decimal(38,0)"
    e = (
        edges.select(F.col(out_col).alias("src"), F.col(in_col).alias("dst"))
        .distinct()
        .localCheckpoint()
    )
    # forward: (s, id, dist, sigma) — sigma = #shortest s→id paths.
    # A vertex enters the state at its FIRST (= shortest) level only:
    # the anti-join drops re-reached vertices, so dist is the true BFS
    # distance and sigma sums exactly the DAG's path counts.
    state = seed.select(
        F.col("id").alias("s"),
        F.col("id"),
        F.lit(0).cast("int").alias("dist"),
        F.lit(1).cast("long").alias("sigma"),
    ).localCheckpoint()
    for lvl in range(1, rounds + 1):
        frontier = state.filter(F.col("dist") == lvl - 1)
        cand = (
            frontier.join(e, frontier["id"] == e["src"])
            .groupBy("s", "dst")
            .agg(F.sum("sigma").alias("sigma"))
        )
        seen = state.select(
            F.col("s").alias("_seen_s"), F.col("id").alias("_seen_id")
        )
        new = cand.join(
            seen,
            on=[
                cand["s"] == F.col("_seen_s"),
                cand["dst"] == F.col("_seen_id"),
            ],
            how="left_anti",
        ).select(
            "s",
            F.col("dst").alias("id"),
            F.lit(lvl).cast("int").alias("dist"),
            "sigma",
        )
        # referenced 3× next round (filter / anti-join / union) and the
        # anti-join grows the lineage — checkpoint every round
        state = state.unionByName(new).localCheckpoint()

    # backward: level ℓ's delta from level ℓ+1's (sigma, delta)
    delta = state.filter(F.col("dist") == rounds).select(
        "s", "id", "sigma", F.lit(0).cast("long").alias("delta_fp")
    )
    acc = delta
    for lvl in range(rounds - 1, 0, -1):
        preds = state.filter(F.col("dist") == lvl).select(
            "s", "id", "sigma"
        )
        contrib = (
            preds.join(e, preds["id"] == e["src"])
            .select(
                preds["s"],
                preds["id"],
                preds["sigma"].alias("sigma_u"),
                F.col("dst"),
            )
            .join(
                delta.select(
                    F.col("s").alias("_ws"),
                    F.col("id").alias("_w"),
                    F.col("sigma").alias("sigma_w"),
                    F.col("delta_fp").alias("delta_w"),
                ),
                on=[
                    F.col("s") == F.col("_ws"),
                    F.col("dst") == F.col("_w"),
                ],
            )
            .select(
                "s",
                "id",
                F.expr(
                    f"(cast(sigma_u as {dec}) * "
                    f"(cast(1000000 as {dec}) + cast(delta_w as {dec}))) "
                    f"div cast(sigma_w as {dec})"
                )
                .cast("long")
                .alias("_d"),
            )
            .groupBy("s", "id")
            .agg(F.sum("_d").alias("_delta"))
        )
        delta = (
            preds.join(contrib, ["s", "id"], "left")
            .select(
                "s",
                "id",
                "sigma",
                F.coalesce("_delta", F.lit(0)).cast("long").alias("delta_fp"),
            )
            .localCheckpoint()
        )
        acc = acc.unionByName(delta)

    # depth-0 rows (the sources themselves) never enter acc: Brandes'
    # δ_s accumulates only over vertices strictly between pairs
    bc = acc.groupBy("id").agg(
        F.sum("delta_fp").alias("bc_fp"),
        F.count("*").cast("long").alias("n_sources"),
    )
    return verts.join(maybe_broadcast(bc), "id", "left").select(
        "id",
        F.coalesce("bc_fp", F.lit(0)).cast("long").alias("bc_fp"),
        F.coalesce("n_sources", F.lit(0)).cast("long").alias("n_sources"),
    )


def eccentricity(
    edges: DataFrame,
    sources: DataFrame,
    rounds: int = 3,
    out_col: str = "out_id",
    in_col: str = "in_id",
    id_col: str = "id",
) -> DataFrame:
    """Bounded eccentricity per sampled source →
    ``(id, ecc, n_reached)``: for each source, the maximum BFS distance
    it attains within the ``rounds`` horizon and how many vertices it
    reaches at distance ≥ 1.  ``max(ecc)`` over the sample is the
    standard diameter LOWER bound (Magnien–Latapy–Habib 2009 shape);
    an exact web-scale diameter is all-pairs BFS and off the table, so
    sampled bounded eccentricity is what production graph profiles
    report.  Truncation makes values honest lower bounds: a source
    whose true eccentricity exceeds ``rounds`` reports ``rounds``.

    Same per-source TRACKED BFS as :func:`harmonic_centrality`
    (shared ``_tracked_dist``: one equi-join + one min hash agg per
    round, state keyed (source, vertex)); the reduction is ONE hash agg
    on the source key.  max/count over BIGINT are
    association-order-free → fixed ``rounds`` runs are bit-reproducible
    and carry a FULL unrolled-CTE SQL twin.  Directed out-edges
    (symmetrize first for undirected); sources not in the edge set are
    ignored; isolated-but-seeded vertices report (0, 0).  String ids
    run dictionary-encoded to longs; ecc/n_reached are id-independent.
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    src = sources.select(F.col(id_col).alias("id")).distinct()
    enc = _encode_vertex_ids(edges, out_col, in_col)
    if enc is not None:
        encoded, vocab = enc
        src_enc = src.select(
            F.xxhash64(F.col("id").cast("string")).alias("id")
        )
        verts = vocab.select(F.col("enc").alias("id"))
        seed = verts.join(src_enc, "id", "left_semi")
        dist = _tracked_dist(encoded, seed, rounds, out_col, in_col)
        return _decode_ids(_ecc_agg(dist), vocab, ["id"])
    verts = (
        edges.select(F.col(out_col).alias("id"))
        .unionAll(edges.select(F.col(in_col).alias("id")))
        .distinct()
    )
    seed = verts.join(src, "id", "left_semi")
    dist = _tracked_dist(edges, seed, rounds, out_col, in_col)
    return _ecc_agg(dist)


def _ecc_agg(dist: DataFrame) -> DataFrame:
    return dist.groupBy("s").agg(
        F.max("dist").cast("long").alias("ecc"),
        F.sum(F.when(F.col("dist") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_reached"),
    ).select(F.col("s").alias("id"), "ecc", "n_reached")


def _symmetric_simple_edges(
    edges: DataFrame, out_col: str, in_col: str
) -> tuple[DataFrame, DataFrame]:
    """(e, verts) for the hash-priority round ops: the symmetrized
    self-loop-free (src, dst) edge frame and the full vertex frame,
    both localCheckpointed (each is probed every round)."""
    und = _undirected(edges, out_col, in_col)
    e = (
        und.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionByName(
            und.select(F.col("v").alias("src"), F.col("u").alias("dst"))
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    verts = (
        edges.select(F.col(out_col).alias("id"))
        .unionAll(edges.select(F.col(in_col).alias("id")))
        .distinct()
        .localCheckpoint()
    )
    return e, verts


def _priority_frame(active: DataFrame, seed: int, r: int) -> DataFrame:
    """(id, k): the round's hash-priority keys — md5(seed:round:id)
    || '|' || id, a portable STRING total order (fixed-length hex, id
    tie-break); a pure function of (seed, round, vertex)."""
    key = F.concat(
        F.md5(
            F.concat_ws(":", F.lit(str(seed)), F.lit(str(r)), F.col("id"))
        ),
        F.lit("|"),
        F.col("id"),
    )
    return active.select("id", key.alias("k")).localCheckpoint()


def _local_min_winners(e: DataFrame, pri: DataFrame) -> DataFrame:
    """Vertices whose key is strictly smaller than every ACTIVE
    neighbor's (or that have none): one neighbor-min hash agg over the
    active subgraph + one left join.  Two adjacent vertices can never
    both win (one key is strictly smaller — ids make the order total),
    the invariant both Luby MIS and Jones-Plassmann coloring rest on."""
    nb = (
        e.join(
            pri.select(F.col("id").alias("_nid"), F.col("k").alias("_nk")),
            F.col("dst") == F.col("_nid"),
        )
        .join(
            pri.select(F.col("id").alias("_sid")),
            F.col("src") == F.col("_sid"),
            "left_semi",
        )
        .groupBy("src")
        .agg(F.min("_nk").alias("_m"))
    )
    return (
        pri.join(nb, pri["id"] == nb["src"], "left")
        .filter(F.col("_m").isNull() | (F.col("k") < F.col("_m")))
        .select("id")
    )


def maximal_independent_set(
    edges: DataFrame,
    rounds: int = 3,
    seed: int = 0,
    out_col: str = "out_id",
    in_col: str = "in_id",
) -> DataFrame:
    """Luby's maximal independent set (Luby 1986), the deterministic
    hash-priority variant → ``(id, state, round)`` for EVERY vertex:
    ``state`` ∈ {'in', 'out', 'undecided'}, ``round`` = the round the
    decision landed (NULL while undecided).  MIS is the classic
    distributed symmetry-breaking primitive — conflict-free scheduling,
    leader election among neighbors, coarsening seeds — and Luby's
    rounds are exactly the relational shape this engine favors.

    Per round, over the still-undecided subgraph: every vertex draws
    the priority key ``md5(seed:round:id) || '|' || id`` (a pure
    function of (seed, round, vertex) — reproducible, independent
    across rounds, and a plain STRING min both engines order
    identically; the ``random_walks`` hash-choice rationale), joins
    the MIS iff its key is strictly smaller than every undecided
    neighbor's (or it has none); its neighbors leave as 'out'.  Two
    adjacent vertices can never both join (one of the two keys is
    smaller — ids make the order total), so 'in' is independent BY
    CONSTRUCTION every round, and any vertex still undecided after the
    budget degrades to 'undecided', never to a conflicting label (the
    bounded-rounds contract of :func:`strongly_connected_components`).
    Luby needs O(log n) rounds in expectation, so small budgets decide
    almost everything.

    Plan shape (100 TB): per round ONE neighbor-min hash agg over the
    undecided edge frame + two anti-joins, undecided state
    localCheckpointed; the edge frame is touched only via semi-joins
    against the shrinking undecided set.  Directionless: edges are
    symmetrized and self-loops dropped (a vertex is not its own
    neighbor).  NOT hash-encoded — priorities hash id VALUES (the
    :func:`label_propagation` rationale).  Fully deterministic →
    carries a FULL unrolled-CTE DuckDB twin.
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    e, verts = _symmetric_simple_edges(edges, out_col, in_col)
    undecided = verts
    decided = None
    for r in range(1, rounds + 1):
        pri = _priority_frame(undecided, seed, r)
        sel = _local_min_winners(e, pri)
        out = (
            e.join(
                sel.select(F.col("id").alias("_sel")),
                F.col("src") == F.col("_sel"),
                "left_semi",
            )
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(pri.select("id"), "id", "left_semi")
        )
        batch = sel.select(
            "id", F.lit("in").alias("state"), F.lit(r).cast("int").alias("round")
        ).unionByName(
            out.select(
                "id",
                F.lit("out").alias("state"),
                F.lit(r).cast("int").alias("round"),
            )
        )
        decided = batch if decided is None else decided.unionByName(batch)
        undecided = (
            undecided.join(sel, "id", "left_anti")
            .join(out, "id", "left_anti")
            .localCheckpoint()
        )
    rest = undecided.select(
        "id",
        F.lit("undecided").alias("state"),
        F.lit(None).cast("int").alias("round"),
    )
    return decided.unionByName(rest)


def greedy_coloring(
    edges: DataFrame,
    rounds: int = 6,
    seed: int = 0,
    out_col: str = "out_id",
    in_col: str = "in_id",
) -> DataFrame:
    """Jones–Plassmann greedy graph coloring (Jones & Plassmann 1993)
    → ``(id, color)`` with ``color`` NULL for vertices still uncolored
    after the round budget: per round, every UNCOLORED vertex whose
    hash-priority key is a local minimum among its uncolored neighbors
    takes the round number as its color — adjacent vertices can never
    color in the same round (one key is strictly smaller), so the
    partial coloring is PROPER by construction and bounded budgets
    degrade to NULL, never to a conflict (the
    :func:`maximal_independent_set` contract; the difference is that
    coloring removes only the WINNERS each round, not their
    neighbors).  Coloring is the scheduling primitive over conflict
    graphs — parallel updates, register allocation, timetabling — and
    each color class is an independent set usable as a wave of
    conflict-free work.

    Same determinism design as :func:`maximal_independent_set`:
    priority key ``md5(seed:round:id) || '|' || id`` (portable string
    total order), per round ONE neighbor-min hash agg over the
    uncolored subgraph + one anti-join, state localCheckpointed; NOT
    hash-encoded (priorities hash id values).  Self-loops are dropped
    (a vertex does not conflict with itself).  Fully deterministic →
    FULL unrolled-CTE DuckDB twin.
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    e, verts = _symmetric_simple_edges(edges, out_col, in_col)
    uncolored = verts
    colored = None
    for r in range(1, rounds + 1):
        pri = _priority_frame(uncolored, seed, r)
        win = _local_min_winners(e, pri)
        batch = win.select("id", F.lit(r).cast("int").alias("color"))
        colored = batch if colored is None else colored.unionByName(batch)
        uncolored = uncolored.join(win, "id", "left_anti").localCheckpoint()
    rest = uncolored.select("id", F.lit(None).cast("int").alias("color"))
    return colored.unionByName(rest)

def maximal_matching(
    edges: DataFrame,
    rounds: int = 3,
    seed: int = 0,
    out_col: str = "out_id",
    in_col: str = "in_id",
) -> DataFrame:
    """Israeli–Itai-style maximal matching via deterministic hash
    priorities → ``(id, match_id, round)`` for EVERY vertex:
    ``match_id`` = the partner (NULL while unmatched), ``round`` = the
    round the pair landed.  Matching is the EDGE-side symmetry-breaking
    primitive next to :func:`maximal_independent_set` (it IS an
    independent set of the line graph): pairing replicas, scheduling
    pairwise merges/exchanges, coarsening for multilevel partitioners.

    Per round, over the still-active subgraph (edges with BOTH
    endpoints unmatched): every edge draws the priority key
    ``md5(seed:round:u:v) || '|' || u || '|' || v`` — unique per edge,
    a portable STRING total order (the :func:`maximal_independent_set`
    rationale) — and joins the matching iff its key is the minimum
    among ALL active edges incident to EITHER endpoint.  Two edges
    sharing an endpoint can never both win (keys are unique, both
    would have to be that endpoint's min), so the pair set is a
    matching BY CONSTRUCTION every round; the globally smallest active
    edge always wins, so every round makes progress, and any vertex
    still unmatched after the budget degrades to NULL, never to a
    double-booking.

    Plan shape (100 TB): per round ONE vertex-min hash agg over the
    active edge frame (each edge contributes its key under both
    endpoints) + two equality probes + two anti-joins; active state
    localCheckpointed so the plan stays a linear chain.  Directionless:
    edges are canonicalized to (u < v) pairs, self-loops dropped (a
    vertex cannot match itself).  NOT hash-encoded — priorities hash id
    VALUES (the :func:`label_propagation` rationale).  Fully
    deterministic → carries a FULL unrolled-CTE DuckDB twin.
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    und = _undirected(edges, out_col, in_col).localCheckpoint()
    verts = (
        edges.select(F.col(out_col).alias("id"))
        .unionAll(edges.select(F.col(in_col).alias("id")))
        .distinct()
        .localCheckpoint()
    )
    active = und
    matched = None
    for r in range(1, rounds + 1):
        key = F.concat(
            F.md5(
                F.concat_ws(
                    ":", F.lit(str(seed)), F.lit(str(r)), F.col("u"), F.col("v")
                )
            ),
            F.lit("|"),
            F.col("u"),
            F.lit("|"),
            F.col("v"),
        )
        pri = active.select("u", "v", key.alias("k")).localCheckpoint()
        vmin = (
            pri.select(F.col("u").alias("vid"), "k")
            .unionByName(pri.select(F.col("v").alias("vid"), "k"))
            .groupBy("vid")
            .agg(F.min("k").alias("m"))
        )
        win = (
            pri.join(
                vmin.select(F.col("vid").alias("_uu"), F.col("m").alias("_mu")),
                (F.col("u") == F.col("_uu")) & (F.col("k") == F.col("_mu")),
            )
            .join(
                vmin.select(F.col("vid").alias("_vv"), F.col("m").alias("_mv")),
                (F.col("v") == F.col("_vv")) & (F.col("k") == F.col("_mv")),
            )
            .select("u", "v")
            .localCheckpoint()
        )
        batch = win.select(
            F.col("u").alias("id"),
            F.col("v").alias("match_id"),
            F.lit(r).cast("int").alias("round"),
        ).unionByName(
            win.select(
                F.col("v").alias("id"),
                F.col("u").alias("match_id"),
                F.lit(r).cast("int").alias("round"),
            )
        )
        matched = batch if matched is None else matched.unionByName(batch)
        mv1 = win.select(F.col("u").alias("_m1")).unionByName(
            win.select(F.col("v").alias("_m1"))
        )
        mv2 = mv1.select(F.col("_m1").alias("_m2"))
        active = (
            active.join(mv1, F.col("u") == F.col("_m1"), "left_anti")
            .join(mv2, F.col("v") == F.col("_m2"), "left_anti")
            .localCheckpoint()
        )
    rest = verts.join(matched.select("id"), "id", "left_anti").select(
        "id",
        F.lit(None).cast(und.schema["v"].dataType).alias("match_id"),
        F.lit(None).cast("int").alias("round"),
    )
    return matched.unionByName(rest)

def minimum_spanning_forest(
    edges: DataFrame,
    weight_col: str | None = "w",
    rounds: int = 3,
    jumps: int = 2,
    out_col: str = "out_id",
    in_col: str = "in_id",
) -> DataFrame:
    """Borůvka minimum spanning forest (Borůvka 1926; the CLASSIC
    distributed MST scheme — Kruskal/Prim need a global sort or a
    sequential frontier, Borůvka is embarrassingly component-parallel)
    → ``(u, v, w, round)``: the forest edges, ``round`` = the first
    Borůvka round that selected the edge.  THE single-linkage
    clustering primitive over similarity/distance graphs: the MSF of a
    pairwise-distance graph cut at threshold t IS single-linkage
    clustering at t (the corpus-dedup hierarchy one level above
    connected components), and the forest is the sparsest structure
    preserving min-cost connectivity (network design / KG backbone).

    Edge keys are the portable string total order
    ``lpad(w, 19, '0') || '|' || u || '|' || v`` — unique per edge, so
    the MSF under this perturbed order is UNIQUE and both engines agree
    bit-for-bit.  Per round, every current label group selects the
    minimum-key edge LEAVING it (both endpoints contribute the edge to
    their group's min); by the cut property, the min edge crossing ANY
    cut belongs to the unique MSF, so every selected edge is correct
    EVEN UNDER PARTIAL CONTRACTION — labels then merge by ``jumps``
    synchronous min-propagation passes over the winner pairs at GROUP
    level (O(#labels) rows, not O(V)).  Bounded budgets therefore
    degrade to a SUBSET of the true MSF (fewer merges, never a wrong
    edge — the :func:`maximal_independent_set` degrade contract); with
    enough rounds the output IS the full MSF.

    Plan shape (100 TB): per round two label equi-joins onto the
    checkpointed simple-edge frame, ONE group-min hash agg (each edge
    under both endpoint labels), two semi-join winner probes, and
    ``jumps`` joins on the label-level (tiny, shrinking) group graph;
    label state localCheckpointed per round so the plan stays a linear
    chain.  No global sort anywhere — the reason this scales where
    Kruskal does not.  NOT hash-encoded: labels are min-over-id values
    and the key tie-break compares id values (the
    :func:`label_propagation` rationale).  Parallel edges collapse to
    their min weight map-side; self-loops drop (never in an MSF).
    Weights must be non-negative BIGINTs (costs/distances): negative or
    NULL weights would break the lpad key order, so the key expression
    carries an ``assert_true`` guard that fails the job loudly instead
    of returning a silently-wrong forest.  Fully deterministic →
    carries a FULL unrolled-CTE DuckDB twin (``graph_msf``).
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    if jumps < 1:
        raise ValueError(f"jumps must be >= 1, got {jumps}")
    # weight_col=None → unit weights: a deterministic spanning forest of
    # every component (the CLI's unweighted-warehouse mode)
    w = (F.lit(1) if weight_col is None else F.col(weight_col)).cast("long")
    p = (
        edges.select(
            F.least(out_col, in_col).alias("u"),
            F.greatest(out_col, in_col).alias("v"),
            w.alias("w"),
        )
        .filter(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(F.min("w").alias("w"))
    )
    # assert_true is NULL when the guard holds; concat_ws drops NULLs,
    # so the guard rides inside the key and cannot be pruned away
    guard = F.assert_true(
        F.col("w").isNotNull() & (F.col("w") >= 0),
        F.lit("minimum_spanning_forest: weights must be non-negative"),
    ).cast("string")
    key = F.concat_ws(
        "",
        guard,
        F.lpad(F.col("w").cast("string"), 19, "0"),
        F.lit("|"), F.col("u").cast("string"),
        F.lit("|"), F.col("v").cast("string"),
    )
    p = p.select("u", "v", "w", key.alias("k")).localCheckpoint()
    verts = (
        edges.select(F.col(out_col).alias("id"))
        .unionAll(edges.select(F.col(in_col).alias("id")))
        .distinct()
        .localCheckpoint()
    )
    lab = verts.select("id", F.col("id").alias("lab"))
    id_t = verts.schema["id"].dataType
    forest = None
    for r in range(1, rounds + 1):
        le = (
            p.join(lab.select(F.col("id").alias("_au"), F.col("lab").alias("lu")),
                   F.col("u") == F.col("_au"))
            .join(lab.select(F.col("id").alias("_av"), F.col("lab").alias("lv")),
                  F.col("v") == F.col("_av"))
            .filter(F.col("lu") != F.col("lv"))
            .select("u", "v", "w", "k", "lu", "lv")
            .localCheckpoint()
        )
        gm = (
            le.select(F.col("lu").alias("g"), "k")
            .unionByName(le.select(F.col("lv").alias("g"), "k"))
            .groupBy("g")
            .agg(F.min("k").alias("m"))
        )
        win = (
            le.join(
                gm.select(F.col("g").alias("_g1"), F.col("m").alias("_m1")),
                (F.col("lu") == F.col("_g1")) & (F.col("k") == F.col("_m1")),
                "left_semi",
            )
            .unionByName(
                le.join(
                    gm.select(F.col("g").alias("_g2"), F.col("m").alias("_m2")),
                    (F.col("lv") == F.col("_g2")) & (F.col("k") == F.col("_m2")),
                    "left_semi",
                )
            )
            .dropDuplicates(["u", "v"])
            .localCheckpoint()
        )
        batch = win.select("u", "v", "w", F.lit(r).cast("int").alias("round"))
        forest = batch if forest is None else forest.unionByName(batch)
        # group-level min-propagation over the winner pairs: O(#labels)
        # frames, `jumps` synchronous passes (partial contraction is
        # safe by the cut property; later rounds finish the merge)
        sym = win.select(F.col("lu").alias("a"), F.col("lv").alias("b")).unionByName(
            win.select(F.col("lv").alias("a"), F.col("lu").alias("b"))
        )
        gl = lab.select(F.col("lab").alias("g")).distinct().select(
            "g", F.col("g").alias("nl")
        )
        for _ in range(jumps):
            cand = sym.join(
                gl.select(F.col("g").alias("_b"), F.col("nl").alias("_nl")),
                F.col("b") == F.col("_b"),
            ).select(F.col("a").alias("g"), F.col("_nl").alias("nl"))
            gl = (
                gl.unionByName(cand).groupBy("g").agg(F.min("nl").alias("nl"))
            )
        lab = (
            lab.join(
                gl.select(F.col("g").alias("_g"), F.col("nl").alias("_nl")),
                F.col("lab") == F.col("_g"),
            )
            .select("id", F.col("_nl").alias("lab"))
            .localCheckpoint()
        )
    return (
        forest.groupBy("u", "v", "w")
        .agg(F.min("round").alias("round"))
        .select("u", "v", "w", "round")
    )


def topological_layers(
    edges: DataFrame,
    out_col: str = "out_id",
    in_col: str = "in_id",
    rounds: int = 20,
    vertices: DataFrame | None = None,
) -> DataFrame:
    """Kahn topological layering of a DAG → ``(id, layer)``: layer r
    holds the vertices whose every predecessor sits in an earlier layer
    — the dependency-wave schedule (build systems, feature DAGs, table
    lineage: everything in one layer can run in parallel once the
    previous layers finished; the DAG cousin of ``greedy_coloring``'s
    conflict waves).  Vertices still holding incoming edges after
    ``rounds`` peels — every member of a cycle, and everything
    downstream of one within the budget — report NULL, never a wrong
    layer (the k_core/SCC bounded-degradation contract), which makes
    the operator double as a CYCLE DETECTOR: any NULL under a
    sufficient budget proves the graph is not a DAG.

    ``vertices`` (one ``id`` column, optional) adds isolated vertices —
    they peel in round 0 by definition; without the frame only
    edge-touching vertices are reported (the ``components`` contract).

    Plan shape (100 TB): per round ONE distinct head set over the
    remaining edges, one anti-join for the new roots, one anti-join to
    drop their out-edges — all narrow two-column frames keyed on vertex
    id; state localCheckpointed per round (the k_core linear-chain
    rule), rounds = longest dependency chain (driver-bounded, early
    exit on fixpoint).  Per-round driver reads are O(1) counts.

    Reference parity note: the reference's migration itself is a fixed
    2-stage DAG (vertices before edges, Program.cs); this generalizes
    that scheduling question to arbitrary dependency graphs.  §2.1
    new-engine surface (SURVEY.md).
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    e = (
        edges.select(
            F.col(out_col).cast("string").alias("src"),
            F.col(in_col).cast("string").alias("dst"),
        )
        .distinct()
        .localCheckpoint()
    )
    verts = e.select(F.col("src").alias("id")).unionAll(
        e.select(F.col("dst").alias("id"))
    )
    if vertices is not None:
        verts = verts.unionAll(
            vertices.select(F.col("id").cast("string").alias("id"))
        )
    active_v = verts.distinct().localCheckpoint()
    assigned = None
    for rnd in range(rounds):
        heads = e.select(F.col("dst").alias("id")).distinct()
        roots = active_v.join(heads, "id", "left_anti").select(
            "id", F.lit(rnd).cast("int").alias("layer")
        ).localCheckpoint()
        n_roots = roots.count()
        if n_roots == 0:  # fixpoint: done, or only cycles remain
            break
        assigned = (
            roots if assigned is None else assigned.unionByName(roots)
        ).localCheckpoint()
        active_v = active_v.join(roots, "id", "left_anti").localCheckpoint()
        e = e.join(
            roots.select(F.col("id").alias("src")), "src", "left_anti"
        ).localCheckpoint()
    out_schema_verts = verts.distinct()
    if assigned is None:
        return out_schema_verts.select(
            "id", F.lit(None).cast("int").alias("layer")
        )
    return out_schema_verts.join(assigned, "id", "left").select(
        "id", F.col("layer").cast("int").alias("layer")
    )


def negative_samples(
    pairs: DataFrame,
    k: int = 5,
    center_col: str = "center",
    context_col: str = "context",
    seed: str = "kg-neg-v1",
    n_buckets: int = 4096,
) -> DataFrame:
    """word2vec-style negative sampling over skip-gram pairs → every
    input row × ``k`` rows ``(*pairs.columns, neg_rank, negative)``:
    deterministic draws from the unigram^(3/4) noise distribution of
    the context vocabulary (Mikolov et al. 2013's damping — frequent
    words down-weighted so negatives aren't all stopword-class
    vertices).

    Exactness contract: the damped weight is
    ``floor(sqrt(sqrt(c³)))`` — IEEE-754 requires *correctly rounded*
    ``sqrt`` (unlike ``pow``/``ln``), so c^{3/4} floors identically on
    every engine; draws are ``md5_60(seed:center:context:j) mod Σw``
    (the library's portable hash primitive) mapped into the exact
    integer CDF.  Duplicate (center, context) rows draw identical
    negatives by construction (the draw key is the pair, not the row).
    A drawn negative may equal the pair's own context (standard w2v
    behavior — consumers drop or keep per their loss); it is never
    resampled, which would break determinism.

    Plan shape (100 TB): vocab CDF via the pack_sequences discipline —
    range-shuffle the vocab by word, O(partitions) collect of
    per-partition totals, broadcast exclusive prefixes back (never a
    single-partition global window); interval→bucket explode is
    bounded by |vocab| + n_buckets rows; draw→interval lookup is a
    bucket equi-join (broadcast-gated) + a band filter — never an
    inequality theta join over the corpus.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    for c in (center_col, context_col):
        if c not in pairs.columns:
            raise ValueError(f"column {c!r} not in pairs")
    from pyspark.sql import Window

    from kg.hints import maybe_broadcast
    from kg.ops.minhash import md5_60

    spark = pairs.sparkSession
    vocab = pairs.groupBy(
        F.col(context_col).cast("string").alias("_word")
    ).agg(F.count("*").alias("_c"))
    # c^(3/4) = sqrt(sqrt(c^3)): both sqrts correctly rounded per
    # IEEE-754, so the floor is engine-identical; c >= 1 ⇒ w >= 1
    damped = F.floor(
        F.sqrt(
            F.sqrt((F.col("_c") * F.col("_c") * F.col("_c")).cast("double"))
        )
    ).cast("long")
    weights = vocab.select("_word", damped.alias("_w"))
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    ordered = (
        weights.repartitionByRange(n_parts, F.col("_word"))
        .sortWithinPartitions("_word")
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    part_rows = ordered.groupBy("_pid").agg(
        F.sum("_w").alias("t"), F.count("*").alias("n")
    ).collect()
    totals = {r["_pid"]: r["t"] for r in part_rows}
    vocab_n = sum(r["n"] for r in part_rows)
    prefix, acc = {}, 0
    for pid in sorted(totals):
        prefix[pid] = acc
        acc += totals[pid]
    total_w = int(acc)
    if total_w <= 0:
        raise ValueError("pairs frame has no context rows to sample from")
    prefix_df = F.broadcast(
        spark.createDataFrame(
            [(int(p), int(v)) for p, v in prefix.items()],
            "_pid int, _pre long",
        )
    )
    win = (
        Window.partitionBy("_pid")
        .orderBy("_word")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    hi = F.col("_pre") + F.sum("_w").over(win)
    intervals = ordered.join(prefix_df, "_pid").select(
        "_word",
        (hi - F.col("_w")).alias("_lo"),
        hi.alias("_hi"),
    )
    bucket_w = max(1, -(-total_w // n_buckets))  # ceil(total / n_buckets)
    iv_b = intervals.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                F.expr(f"_lo div {bucket_w}"),
                F.expr(f"(_hi - 1) div {bucket_w}"),
            )
        ),
    )
    draw_key = F.concat_ws(
        ":",
        F.lit(seed),
        F.col(center_col).cast("string"),
        F.col(context_col).cast("string"),
        F.col("_j").cast("string"),
    )
    draws = pairs.withColumn(
        "_j", F.explode(F.sequence(F.lit(0), F.lit(k - 1)))
    ).withColumn("_draw", F.pmod(md5_60(draw_key), F.lit(total_w)))
    # evidence-gated broadcast: the bucketized interval frame is
    # provably <= vocab_n + n_buckets rows (each interval adds one row
    # per spanned bucket and the spans partition the bucket range), and
    # vocab_n is already known driver-side from the prefix-scan collect;
    # Catalyst's size estimate is UNKNOWN after the localCheckpoint, so
    # maybe_broadcast alone would sort-merge the corpus-sized draw frame
    # against this dim
    if vocab_n + n_buckets <= 2_000_000:
        iv_b = F.broadcast(iv_b)
    else:
        iv_b = maybe_broadcast(iv_b)
    return (
        draws.withColumn("_bucket", F.expr(f"_draw div {bucket_w}"))
        .join(iv_b, "_bucket")
        .where((F.col("_draw") >= F.col("_lo")) & (F.col("_draw") < F.col("_hi")))
        .select(
            *pairs.columns,
            F.col("_j").cast("int").alias("neg_rank"),
            F.col("_word").alias("negative"),
        )
    )


def rich_club(
    edges: DataFrame,
    out_col: str = "out_id",
    in_col: str = "in_id",
    ks: tuple[int, ...] = (2, 4, 8, 16),
) -> DataFrame:
    """Rich-club coefficient (Zhou & Mondragón 2004) per degree
    threshold → ``(k, n_nodes, n_edges, phi)``: among vertices of
    degree > k, ``phi = 2·E_k / (N_k·(N_k−1))`` — the density of the
    subgraph the hubs form.  φ(k) rising with k means the hubs
    interlink (the "rich club" of a citation/infrastructure graph);
    flat/falling means hub-to-leaf wiring.  The third mixing-structure
    diagnostic next to :func:`assortativity` (correlation form) and
    :func:`global_transitivity` (closure form).

    Plan shape: one degree hash agg, the vertex-bounded degree dim
    broadcast-gated onto both endpoints, then the per-k edge counts
    ride ONE conditional global aggregation (``sum(min_deg > k)`` per
    literal k — no per-k scan, no join against a k dim) and the per-k
    node counts ride one more over the degree frame; the |ks|-row
    result assembles driver-free from the two 1-row aggs.  Exact
    integer counts; only φ's final division is float (6 dp); N_k < 2
    yields NULL φ (no possible pairs) instead of an ANSI
    divide-by-zero.
    """
    from kg.hints import maybe_broadcast

    if not ks or any(k < 0 for k in ks) or len(set(ks)) != len(ks):
        raise ValueError(f"ks must be distinct non-negative, got {ks}")
    und = _undirected(edges, out_col, in_col)
    degs = (
        und.select(F.col("u").alias("id"))
        .unionAll(und.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("d"))
    )
    dim = maybe_broadcast(degs)
    md = (
        und.join(dim.select(F.col("id").alias("u"), F.col("d").alias("du")), "u")
        .join(dim.select(F.col("id").alias("v"), F.col("d").alias("dv")), "v")
        .select(F.least("du", "dv").alias("mindeg"))
    )
    e_agg = md.agg(
        *[
            F.sum(F.when(F.col("mindeg") > k, 1).otherwise(0))
            .cast("long")
            .alias(f"_e{k}")
            for k in ks
        ]
    )
    n_agg = degs.agg(
        *[
            F.sum(F.when(F.col("d") > k, 1).otherwise(0))
            .cast("long")
            .alias(f"_n{k}")
            for k in ks
        ]
    )
    combined = e_agg.crossJoin(F.broadcast(n_agg))
    rows = combined.select(
        F.posexplode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("int").alias("k"),
                        F.coalesce(F.col(f"_n{k}"), F.lit(0).cast("long")).alias("n_nodes"),
                        F.coalesce(F.col(f"_e{k}"), F.lit(0).cast("long")).alias("n_edges"),
                    )
                    for k in ks
                ]
            )
        ).alias("_i", "_s")
    ).select("_s.k", "_s.n_nodes", "_s.n_edges")
    n = F.col("n_nodes").cast("double")
    return rows.select(
        "k",
        "n_nodes",
        "n_edges",
        F.when(
            F.col("n_nodes") >= 2,
            F.round(
                F.lit(2.0) * F.col("n_edges").cast("double")
                / (n * (n - F.lit(1.0))),
                6,
            ),
        ).alias("phi"),
    )
