"""Connected components via alternating large-star / small-star joins.

The north_star mandates canonical entity resolution with an iterative
DataFrame-join CC (no GraphFrames).  This is the two-phase star algorithm
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14):
each round is two shuffles (groupBy min + join), converging in
O(log n) rounds on any graph — the property that matters at 10^12-edge
scale, where label-propagation's O(diameter) rounds would be unbounded.

Node ids are strings (sha256 hex); `min` is lexicographic, which is total
and deterministic, so the component root — and therefore every canonical
entity id — is stable across runs and cluster sizes.

Catalyst cannot express iteration, so the loop lives driver-side with a
``localCheckpoint()`` per round to truncate the logical plan (SURVEY.md §4
hard-parts watch list: unbounded plan growth otherwise blows up analysis).

The one size decision of canonicalize lives here too: a graph of at most
``driver_threshold`` edges (every match graph the benchmark builds) is
resolved by a driver union-find over one bounded collect instead
(``connected_components``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _large_star(e: DataFrame) -> DataFrame:
    """For each node u: attach every strictly-larger neighbor to
    min(N(u) ∪ {u})."""
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("m")
    )
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges high→low; for each node u: attach u and all its
    smaller neighbors to min(N(u) ∪ {u})."""
    d = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v"))
    mins = d.groupBy("u").agg(F.min("v").alias("m"))
    nbrs = d.join(mins, "u")
    out = (
        nbrs.select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(mins.select(F.col("u"), F.col("m").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    return out


def _driver_cc(rows) -> list[tuple[str, str]]:
    """Union-find with min-root merging over ``(u, v)`` rows: the same
    min-member canonical ids the star loop converges to, bit-for-bit
    (both are determined by the component structure + lexicographic min,
    not by iteration order).  Duplicate edges are no-ops."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for u, v in rows:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            lo, hi = min(ru, rv), max(ru, rv)
            parent[hi] = lo
    return [(x, find(x)) for x in parent]


def connected_components(
    pairs: DataFrame, max_iter: int = 25, driver_threshold: int = 500_000
) -> DataFrame:
    """``pairs(a,b)`` undirected edges → ``(mention_id, canonical_id)``.

    canonical_id = min member id of the component (deterministic).  The
    returned map covers every node that appears in ``pairs``; callers union
    in the identity mapping for singletons.

    Two physical strategies behind one contract, chosen on evidence
    (the ``kg.hints`` philosophy):

    * at most ``driver_threshold`` edges → driver-side union-find over
      ONE bounded collect (``limit(driver_threshold + 1)``, so the probe
      is the collect itself; duplicate edges count toward the threshold
      and union-find ignores them).  The match graph is vocabulary-sized
      (distinct linked surfaces), usually orders of magnitude under the
      corpus; the star loop on such a graph costs ~5 scheduled Spark
      jobs per round — pure fixed overhead that fell straight through to
      fleet scaling efficiency (r4 floor profile: 20 jobs, 1.8 s of a
      trivial-corpus run).  500k edges collect to ~tens of MB
      driver-side.
    * above the threshold → the alternating large-star/small-star loop,
      O(log n) rounds on any graph — the 10^12-edge path.

    The edges are checkpointed once first, so an expensive input
    (near-dup pairs, graph edges) is computed once whichever path runs.
    Both produce identical (mention_id, canonical_id) rows (equivalence
    is property-tested)."""
    e = (
        pairs.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .where(F.col("u") != F.col("v"))
        .localCheckpoint()
    )
    rows = e.limit(driver_threshold + 1).collect() if driver_threshold else None
    if rows is not None and len(rows) <= driver_threshold:
        # schema from the INPUT id type, not a hardcoded string pair: the
        # graph surface feeds arbitrary vertex id types here, and a
        # hardcoded string schema made the contract size-dependent
        # (long-id graphs worked above the threshold, threw below it —
        # ADVICE r4).  Python min() on the collected values orders
        # exactly like the distributed least/min for both strings and
        # integers, so the canonical roots stay identical across paths.
        import pandas as pd
        from pyspark.sql.types import StructField, StructType

        id_type = e.schema["u"].dataType
        schema = StructType(
            [
                StructField("mention_id", id_type),
                StructField("canonical_id", id_type),
            ]
        )
        # a pandas frame crosses as Arrow into a local relation whose
        # size Catalyst knows, so a join against it broadcasts unhinted;
        # from a list of tuples it became a stats-less RDD scan and a
        # sort-merge join (canonicalize over a 300-file corpus's matches:
        # 6 jobs against 4, 4-core host)
        pdf = pd.DataFrame(_driver_cc(rows), columns=schema.names)
        return e.sparkSession.createDataFrame(pdf, schema)
    prev = None
    for _ in range(max_iter):
        # superseded rounds' checkpoint blocks are freed by the
        # ContextCleaner once the previous DataFrame is GC'd (this
        # rebind drops the last reference) — Dataset.unpersist only
        # clears CacheManager entries and is a no-op for localCheckpoint
        # storage; peak storage is bounded at ~2 rounds of edge sets
        e = _small_star(_large_star(e)).localCheckpoint()
        # cheap fixpoint detector: count + order-insensitive checksum;
        # bit_xor is overflow-free at any edge count (an ANSI-mode sum of
        # bounded hashes still faults past ~9.2e9 rows — ADVICE r2)
        chk = e.agg(
            F.count("*").alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
        ).first()
        cur = (chk["n"], chk["h"])
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"connected_components: no convergence in {max_iter} rounds")
    # converged: e is a star graph (node -> component root)
    roots = e.select(F.col("v").alias("u"), F.col("v"))
    return (
        e.union(roots)
        .distinct()
        .select(
            F.col("u").alias("mention_id"), F.col("v").alias("canonical_id")
        )
    )
