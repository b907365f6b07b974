"""Graph-query operators (kg/ops/graph.py): degrees, degree histogram,
2-hop with multiplicity + super-node cap, k-hop BFS levels.

The oracle gate covers graph_degree / graph_two_hop against DuckDB over
the testdata star schema; these tests pin the semantics on a hand graph
(including the parts a SQL twin can't express: the k_hop loop, the
frontier guard) and the plan shape (equi-joins only, no cartesian).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kg.ops import degree_distribution, degrees, k_hop, pagerank, two_hop

# chain a → b → c → d with shortcut a → c; hub m with fan-in 3 / fan-out 3
_EDGES = [
    ("a", "b"),
    ("a", "c"),
    ("b", "c"),
    ("c", "d"),
    # hub vertex m: 3 in, 3 out → 9 two-hop candidate rows through it
    ("p1", "m"), ("p2", "m"), ("p3", "m"),
    ("m", "q1"), ("m", "q2"), ("m", "q3"),
]


@pytest.fixture()
def edges(spark):
    return spark.createDataFrame(_EDGES, "out_id string, in_id string")


def test_degrees(edges):
    got = {r.id: (r.out_degree, r.in_degree, r.degree) for r in degrees(edges).collect()}
    assert got["a"] == (2, 0, 2)
    assert got["c"] == (1, 2, 3)
    assert got["m"] == (3, 3, 6)
    assert got["q1"] == (0, 1, 1)
    # every endpoint appears; degree = out + in for all
    assert all(o + i == d for o, i, d in got.values())


def test_degree_distribution(edges):
    got = {r.degree: r.n_nodes for r in degree_distribution(edges).collect()}
    # degree 1: d, q1..q3, p1..p3 → 7; degree 2: a, b; degree 3: c; 6: m
    assert got == {1: 7, 2: 2, 3: 1, 6: 1}


def test_two_hop_multiplicity_and_dedup(edges):
    got = {(r.src, r.dst): r.n_paths for r in two_hop(edges).collect()}
    assert got[("a", "c")] == 1  # via b (a→c direct is 1-hop, not counted)
    assert got[("a", "d")] == 1  # via c
    assert got[("b", "d")] == 1
    assert got[("p1", "q1")] == 1
    # hub m contributes 3×3 pairs
    assert sum(1 for (s, _d) in got if s in {"p1", "p2", "p3"}) == 9


def test_two_hop_max_fanout_drops_hub(edges):
    """max_fanout=2 drops mid vertices with fan-in or fan-out > 2: every
    path through hub m disappears, chain paths survive."""
    got = {(r.src, r.dst) for r in two_hop(edges, max_fanout=2).collect()}
    assert ("a", "c") in got and ("a", "d") in got
    assert not any(s in {"p1", "p2", "p3"} for s, _ in got)


def test_two_hop_typed_labels_restrict_each_leg(spark):
    """label_col + first/second_label type each hop: only paths whose
    first edge is 'x' and second edge is 'y' survive."""
    edges = spark.createDataFrame(
        [
            ("a", "b", "x"),
            ("b", "c", "y"),
            ("b", "d", "x"),  # second hop wrong label -> no (a, d)
            ("e", "b", "y"),  # first hop wrong label -> no (e, c)
        ],
        "out_id string, in_id string, label string",
    )
    got = {
        (r.src, r.dst): r.n_paths
        for r in two_hop(
            edges, label_col="label", first_label="x", second_label="y"
        ).collect()
    }
    assert got == {("a", "c"): 1}
    # untyped on the same table sees every 2-path
    untyped = {
        (r.src, r.dst)
        for r in two_hop(edges.drop("label")).collect()
    }
    assert untyped == {("a", "c"), ("a", "d"), ("e", "c"), ("e", "d")}


def test_degrees_typed_label_filter(spark):
    edges = spark.createDataFrame(
        [("a", "b", "x"), ("a", "c", "y")],
        "out_id string, in_id string, label string",
    )
    got = {
        r.id: r.degree
        for r in degrees(edges, label_col="label", label="x").collect()
    }
    assert got == {"a": 1, "b": 1}


def test_two_hop_plan_is_equi_joins_only(edges):
    plan = two_hop(edges, max_fanout=1024)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_k_hop_bfs_levels(spark, edges):
    src = spark.createDataFrame([("a",)], "id string")
    got = {r.id: r.hops for r in k_hop(edges, src, k=3).collect()}
    # BFS distance, NOT path length: c is reachable at hop 1 (a→c)
    assert got == {"a": 0, "b": 1, "c": 1, "d": 2}
    # k caps the depth
    got1 = {r.id: r.hops for r in k_hop(edges, src, k=1).collect()}
    assert got1 == {"a": 0, "b": 1, "c": 1}
    # early exit: frontier empties before k — result identical to k=3
    got9 = {r.id: r.hops for r in k_hop(edges, src, k=9).collect()}
    assert got9 == got


def test_k_hop_frontier_guard(spark, edges):
    src = spark.createDataFrame([("p1",), ("p2",), ("p3",)], "id string")
    with pytest.raises(ValueError, match="frontier exploded"):
        k_hop(edges, src, k=2, max_frontier=2)


def test_pagerank_integer_rule_hand_check(spark):
    """a→b, a→c, b→c; hand-applied integer rule (micro-units):
    round 1: b = 150000 + ⌊.85·(10^6 div 2)⌋ = 575000,
             c = 150000 + ⌊.85·(500000 + 10^6)⌋ = 1425000, a = 150000;
    round 2: b = 150000 + ⌊.85·(150000 div 2)⌋ = 213750,
             c = 150000 + ⌊.85·(75000 + 575000)⌋ = 702500."""
    e = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c")], "out_id string, in_id string"
    )
    r1 = {r.id: r.rank_fp for r in pagerank(e, iters=1).collect()}
    assert r1 == {"a": 150000, "b": 575000, "c": 1425000}
    r2 = {r.id: r.rank_fp for r in pagerank(e, iters=2).collect()}
    assert r2 == {"a": 150000, "b": 213750, "c": 702500}
    # deterministic: identical bit-for-bit across runs
    assert r2 == {r.id: r.rank_fp for r in pagerank(e, iters=2).collect()}


def test_pagerank_ranked_edges_cache_is_single_and_recomputed(spark):
    """r6: the per-round edge frame is persisted with preserved
    partitioning instead of localCheckpoint'd; each call must drop the
    PREVIOUS call's cache entry (bounded memory, and a repeated
    identical query recomputes from its inputs instead of silently
    reusing the old materialization via CacheManager plan-dedup)."""
    from kg.ops.graph import _PREV_RANKED_CACHE

    e = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c")], "out_id string, in_id string"
    )
    r1 = {r.id: r.rank_fp for r in pagerank(e, iters=2).collect()}
    assert len(_PREV_RANKED_CACHE) == 1
    first = _PREV_RANKED_CACHE[0]
    assert first.storageLevel.useMemory  # actually persisted
    r2 = {r.id: r.rank_fp for r in pagerank(e, iters=2).collect()}
    assert r1 == r2
    assert len(_PREV_RANKED_CACHE) == 1
    assert _PREV_RANKED_CACHE[0] is not first  # fresh build, old dropped
    # (DataFrame.storageLevel is a CacheManager lookup by CANONICAL plan,
    # and the second call re-cached an equivalent plan, so querying the
    # first frame's level would just find the new entry — the identity
    # check above is what proves the rebuild.)


def test_pagerank_survives_a_cache_entry_that_cannot_unpersist(spark):
    """The previous call's cache entry is dropped best-effort: one left
    by a since-stopped session (stood in for by a stub whose
    ``unpersist`` raises) must not fail the next pagerank."""
    from kg.ops.graph import _PREV_RANKED_CACHE

    class _DeadFrame:
        def unpersist(self):
            raise RuntimeError("session stopped")

    e = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c")], "out_id string, in_id string"
    )
    _PREV_RANKED_CACHE.append(_DeadFrame())
    r = {r.id: r.rank_fp for r in pagerank(e, iters=2).collect()}
    assert r == {"a": 150000, "b": 213750, "c": 702500}
    assert len(_PREV_RANKED_CACHE) == 1
    assert not isinstance(_PREV_RANKED_CACHE[0], _DeadFrame)


def test_personalized_pagerank_hand_check_and_global_equivalence(spark):
    from kg.ops import personalized_pagerank

    # a -> b -> c; seed at a, 1 iteration, d = 0.85
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "out_id string, in_id string"
    )
    src = spark.createDataFrame([("a",)], "id string")
    got = {
        r["id"]: r["rank_fp"]
        for r in personalized_pagerank(
            edges, src, iters=1, damping_ppm=850_000
        ).collect()
    }
    # r0: a=1e6, b=0, c=0.  r1: a = base(150000)·1 + 0
    #                            b = 0 + floor(0.85 · (1e6 div 1)) = 850000
    #                            c = 0 + floor(0.85 · (0 div 1)) = 0
    assert got == {"a": 150_000, "b": 850_000, "c": 0}
    # sources not in the graph are ignored
    src2 = spark.createDataFrame([("a",), ("zzz",)], "id string")
    got2 = {
        r["id"]: r["rank_fp"]
        for r in personalized_pagerank(
            edges, src2, iters=1, damping_ppm=850_000
        ).collect()
    }
    assert got2 == got
    # seeding EVERY vertex reproduces global pagerank bit-for-bit
    allv = spark.createDataFrame([("a",), ("b",), ("c",)], "id string")
    ppr_all = {
        r["id"]: r["rank_fp"]
        for r in personalized_pagerank(edges, allv, iters=3).collect()
    }
    glob = {r["id"]: r["rank_fp"] for r in pagerank(edges, iters=3).collect()}
    assert ppr_all == glob


def test_k_hop_multi_source_min_distance(spark, edges):
    """A vertex reachable from two sources gets the MIN hop distance."""
    src = spark.createDataFrame([("b",), ("c",)], "id string")
    got = {r.id: r.hops for r in k_hop(edges, src, k=2).collect()}
    assert got == {"b": 0, "c": 0, "d": 1}


def test_triangles_hand_graph(edges):
    """Only triangle in the hand graph is {a, b, c} (the hub star is
    bipartite); each member participates in exactly 1."""
    from kg.ops import triangles

    got = {r.id: r.n_triangles for r in triangles(edges).collect()}
    assert got == {"a": 1, "b": 1, "c": 1}


def test_triangles_clique_and_direction_invariance(spark):
    """4-clique: every vertex sits in C(3,2)=3 triangles — exercises the
    degree-orientation tie-break (all degrees equal).  Reversed
    duplicates and self-loops must not change the count (undirected
    simple-graph semantics)."""
    from kg.ops import triangles

    clique = [
        (a, b)
        for a in "wxyz"
        for b in "wxyz"
        if a < b
    ]
    noisy = clique + [("x", "w"), ("w", "w"), ("y", "x")]
    e = spark.createDataFrame(noisy, "out_id string, in_id string")
    got = {r.id: r.n_triangles for r in triangles(e).collect()}
    assert got == {"w": 3, "x": 3, "y": 3, "z": 3}


def test_triangles_multigraph_core_equals_classic_core(spark):
    """The direct ``triangles()`` path orients on MULTIGRAPH degree and
    dedups inside the adjacency ``collect_set`` (r6: skips the
    corpus-sized undirected distinct); the classic core
    (``_triangle_triples`` via an explicit ``und``/``deg`` pair, still
    used by transitivity/k_truss) orients on simple-graph degree.  The
    two orders differ exactly when duplicate edges skew the multigraph
    degree — the triangle SET must not: pin both cores bit-equal on a
    graph whose duplicate multiplicities invert the degree order."""
    import random

    from kg.ops.graph import _triangles_impl, _undirected, triangles

    rng = random.Random(20260822)
    verts = [f"v{i}" for i in range(24)]
    base = {
        (a, b)
        for a in verts
        for b in verts
        if a < b and rng.random() < 0.25
    }
    rows = []
    for a, b in sorted(base):
        # random multiplicity 1-4 with random per-copy direction, so
        # multigraph degree diverges hard from simple degree and the two
        # orientation orders disagree on many edges
        for _ in range(rng.randint(1, 4)):
            rows.append((a, b) if rng.random() < 0.5 else (b, a))
    rows += [(v, v) for v in verts[:3]]  # self-loops are dropped by both
    e = spark.createDataFrame(rows, "out_id string, in_id string")

    multi = sorted(map(tuple, triangles(e).collect()))
    und = _undirected(e, "out_id", "in_id").localCheckpoint()
    classic = sorted(
        map(tuple, _triangles_impl(e, "out_id", "in_id", und=und).collect())
    )
    # classic core returns encoded-free raw ids already (no encode wrap)
    assert multi == classic
    assert len(multi) > 0  # the graph actually has triangles to compare


def test_clustering_coefficient_hand_graph(edges):
    """Undirected degrees: a=2, b=2, c=3, d=1, m=6, leaves=1; the only
    triangle is {a,b,c} → a,b fully clustered (1.0), c = 2/(3·2) =
    0.333333, everything else 0.0 (degree-1 vertices have no wedge)."""
    from kg.ops import clustering_coefficient

    got = {
        r.id: (r.deg, r.n_triangles, r.clustering)
        for r in clustering_coefficient(edges).collect()
    }
    assert got["a"] == (2, 1, 1.0)
    assert got["b"] == (2, 1, 1.0)
    assert got["c"] == (3, 1, 0.333333)
    assert got["d"] == (1, 0, 0.0)
    assert got["m"] == (6, 0, 0.0)
    assert len(got) == 11  # every vertex with ≥1 non-loop edge appears


def test_triangles_plan_no_cartesian(edges):
    from kg.ops import triangles

    plan = triangles(edges)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_neighbor_jaccard_hand_graph(edges):
    """Undirected neighborhoods: N(a)={b,c}, N(b)={a,c}, N(c)={a,b,d},
    N(d)={c}; p*/q* all share the single neighbor m (jaccard 1.0)."""
    from kg.ops import neighbor_jaccard

    got = {
        (r.a, r.b): (r.n_common, r.jaccard)
        for r in neighbor_jaccard(edges).collect()
    }
    assert got[("a", "b")] == (1, round(1 / 3, 6))
    assert got[("a", "c")] == (1, 0.25)
    assert got[("b", "c")] == (1, 0.25)
    assert got[("a", "d")] == (1, 0.5)
    assert got[("b", "d")] == (1, 0.5)
    sats = [p for p in got if p[0].startswith(("p", "q"))]
    assert len(sats) == 15  # C(6,2) pairs through hub m
    assert all(got[p] == (1, 1.0) for p in sats)
    assert len(got) == 20


def test_neighbor_jaccard_fanout_cap_drops_hub_pairs(edges):
    """max_fanout=5 drops hub m (degree 6) as a shared neighbor: the 15
    satellite pairs vanish, chain pairs survive with identical scores."""
    from kg.ops import neighbor_jaccard

    got = {
        (r.a, r.b): (r.n_common, r.jaccard)
        for r in neighbor_jaccard(edges, max_fanout=5).collect()
    }
    assert set(got) == {("a", "b"), ("a", "c"), ("b", "c"), ("a", "d"), ("b", "d")}
    assert got[("a", "b")] == (1, round(1 / 3, 6))
    # min_common filters below threshold (no pair here shares 2 neighbors)
    from kg.ops import neighbor_jaccard as nj

    assert nj(edges, min_common=2).count() == 0


def test_components_hand_graph(spark):
    from kg.ops import components

    # two components {1,2,3} (chain) and {7,8}; 9 is a self-loop singleton
    edges = spark.createDataFrame(
        [("1", "2"), ("2", "3"), ("7", "8"), ("9", "9")],
        ["out_id", "in_id"],
    )
    got = {r["id"]: r["component"] for r in components(edges).collect()}
    assert got == {"1": "1", "2": "1", "3": "1", "7": "7", "8": "7", "9": "9"}


def test_long_id_encoding_is_output_invariant(spark, edges):
    """String vertex ids run xxhash64-long-encoded internally (VERDICT
    r4 #2); the encode/decode wrap must be invisible in the output —
    same rows as the raw string implementation for every wrapped op."""
    from kg.ops.graph import (
        _encode_vertex_ids,
        _neighbor_jaccard_impl,
        _triangles_impl,
        _two_hop_impl,
        pagerank,
        triangles,
        two_hop,
    )

    # integral ids: nothing to encode
    long_edges = spark.createDataFrame([(1, 2)], "out_id long, in_id long")
    assert _encode_vertex_ids(long_edges, "out_id", "in_id") is None

    tri_edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")],
        "out_id string, in_id string",
    )
    enc = triangles(tri_edges).collect()
    raw = _triangles_impl(tri_edges, "out_id", "in_id").collect()
    assert sorted(map(tuple, enc)) == sorted(map(tuple, raw))
    assert dict(map(tuple, enc)) == {"a": 1, "b": 1, "c": 1}

    enc = two_hop(edges).collect()
    raw = _two_hop_impl(edges, "out_id", "in_id", None).collect()
    assert sorted(map(tuple, enc)) == sorted(map(tuple, raw))

    enc = _neighbor_jaccard_impl(edges, "out_id", "in_id", 1, None)
    from kg.ops import neighbor_jaccard

    assert sorted(map(tuple, neighbor_jaccard(edges).collect())) == sorted(
        map(tuple, enc.collect())
    )

    # pagerank values are id-independent: spot-check ids decode intact
    ranks = {r["id"]: r["rank_fp"] for r in pagerank(edges, iters=1).collect()}
    assert set(ranks) == {
        "a", "b", "c", "d", "m", "p1", "p2", "p3", "q1", "q2", "q3"
    }


def test_components_long_ids_both_cc_paths(spark):
    """Non-string vertex ids must work on BOTH connected-components
    strategies: the sub-threshold driver union-find used to hardcode a
    string schema, so a long-id graph worked above the 500k-edge
    threshold and threw below it (ADVICE r4)."""
    from kg.ops import components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "out_id long, in_id long"
    )
    want = {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}
    for thresh in (500_000, 0):  # driver fast path / star loop
        from kg.canonicalize.cc import connected_components

        pairs = edges.select(
            F.col("out_id").alias("a"), F.col("in_id").alias("b")
        )
        got = {
            r["mention_id"]: r["canonical_id"]
            for r in connected_components(
                pairs, driver_threshold=thresh
            ).collect()
        }
        assert got == want
    got = {r["id"]: r["component"] for r in components(edges).collect()}
    assert got == want


def test_components_direction_invariant(spark):
    from kg.ops import components

    fwd = spark.createDataFrame([("a", "b"), ("b", "c")], ["out_id", "in_id"])
    rev = spark.createDataFrame([("b", "a"), ("c", "b")], ["out_id", "in_id"])
    assert sorted(map(tuple, components(fwd).collect())) == sorted(
        map(tuple, components(rev).collect())
    )


def test_mixed_type_ids_take_raw_path_not_silent_loss(spark):
    """string out_id + long in_id must NOT dictionary-encode: the vocab
    union coerces the long side to its string form while the edge
    encoding would hash the raw long, so the decode join would silently
    drop rows.  The guard falls back to the raw columns and the result
    matches the all-string equivalent."""
    from kg.ops.graph import _encode_vertex_ids

    mixed = spark.createDataFrame(
        [("1", 2), ("2", 3), ("1", 3)], "out_id string, in_id long"
    )
    assert _encode_vertex_ids(mixed, "out_id", "in_id") is None
    got = {
        (r.src, r.dst): r.n_paths
        for r in two_hop(mixed).collect()
    }
    # 1 → 2 → 3 is the single 2-path (spark coerces the mid comparison;
    # dst keeps the caller's long type)
    assert got == {("1", 3): 1}


def test_half_specified_label_filter_raises(edges):
    labeled = edges.withColumn("label", F.lit("t"))
    with pytest.raises(ValueError):
        degrees(labeled, label_col="label")  # label forgotten
    with pytest.raises(ValueError):
        degrees(labeled, label="t")  # label_col forgotten
    degrees(edges)  # both omitted: untyped is fine
    with pytest.raises(ValueError):
        two_hop(labeled, label_col="label")  # no leg label at all
    with pytest.raises(ValueError):
        two_hop(labeled, first_label="t")  # label_col forgotten
    # fully-specified still works
    assert two_hop(labeled, label_col="label", first_label="t").count() >= 0


def test_shortest_paths_weighted_hand_graph(spark):
    from kg.ops import shortest_paths

    # a -1-> b -1-> c, plus a -5-> c direct: relaxation must prefer the
    # 2-edge path (dist 2) over the direct heavy edge (dist 5)
    e = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 1), ("a", "c", 5), ("c", "d", 2)],
        "out_id string, in_id string, w long",
    )
    src = spark.createDataFrame([("a",)], "id string")
    got = {
        r["id"]: r["dist"]
        for r in shortest_paths(e, src, rounds=3, weight_col="w").collect()
    }
    assert got == {"a": 0, "b": 1, "c": 2, "d": 4}
    # rounds=1 can only see the direct edges
    one = {
        r["id"]: r["dist"]
        for r in shortest_paths(e, src, rounds=1, weight_col="w").collect()
    }
    assert one == {"a": 0, "b": 1, "c": 5}


def test_shortest_paths_unit_weights_match_bfs(spark, edges):
    from kg.ops import k_hop, shortest_paths

    src = spark.createDataFrame([("a",)], "id string")
    bfs = {r["id"]: r["hops"] for r in k_hop(edges, src, k=3).collect()}
    ssp = {
        r["id"]: r["dist"] for r in shortest_paths(edges, src, rounds=3).collect()
    }
    assert ssp == bfs


def test_shortest_paths_multi_source_and_foreign_source(spark):
    from kg.ops import shortest_paths

    e = spark.createDataFrame(
        [("a", "b", 3), ("z", "b", 1)], "out_id string, in_id string, w long"
    )
    # "ghost" is not a graph vertex -> ignored (the PPR contract); the
    # multi-source min wins at b
    src = spark.createDataFrame([("a",), ("z",), ("ghost",)], "id string")
    got = {
        r["id"]: r["dist"]
        for r in shortest_paths(e, src, rounds=2, weight_col="w").collect()
    }
    assert got == {"a": 0, "z": 0, "b": 1}
    import pytest as _pt

    with _pt.raises(ValueError):
        shortest_paths(e, src, rounds=-1)


def test_shortest_paths_long_ids_match_raw_path(spark):
    from kg.ops import shortest_paths

    # integral ids skip the encoding; string twin of the same graph must
    # produce the same distances (output-invariance of the encoding)
    e_raw = spark.createDataFrame(
        [(1, 2, 4), (2, 3, 4), (1, 3, 9)], "out_id long, in_id long, w long"
    )
    e_str = e_raw.select(
        F.col("out_id").cast("string").alias("out_id"),
        F.col("in_id").cast("string").alias("in_id"),
        "w",
    )
    s_raw = spark.createDataFrame([(1,)], "id long")
    s_str = spark.createDataFrame([("1",)], "id string")
    raw = {
        r["id"]: r["dist"]
        for r in shortest_paths(e_raw, s_raw, rounds=2, weight_col="w").collect()
    }
    enc = {
        int(r["id"]): r["dist"]
        for r in shortest_paths(e_str, s_str, rounds=2, weight_col="w").collect()
    }
    assert raw == enc == {1: 0, 2: 4, 3: 8}


def test_hits_hand_graph(spark):
    from kg.ops import hits

    # a→c, b→c, c→d: c is the authority (two hubs point at it), a/b the
    # hubs; hand-unrolled integer max-norm rounds
    e = spark.createDataFrame(
        [("a", "c"), ("b", "c"), ("c", "d")], "out_id string, in_id string"
    )
    got = {
        r["id"]: (r["hub_fp"], r["auth_fp"]) for r in hits(e, iters=2).collect()
    }
    assert got == {
        "a": (1_000_000, 0),
        "b": (1_000_000, 0),
        "c": (250_000, 1_000_000),
        "d": (0, 250_000),
    }
    import pytest as _pt

    with _pt.raises(ValueError):
        hits(e, iters=0)


def test_hits_long_ids_match_raw_path(spark):
    from kg.ops import hits

    e_raw = spark.createDataFrame(
        [(1, 3), (2, 3), (3, 4)], "out_id long, in_id long"
    )
    e_str = e_raw.select(
        F.col("out_id").cast("string").alias("out_id"),
        F.col("in_id").cast("string").alias("in_id"),
    )
    raw = {r["id"]: (r["hub_fp"], r["auth_fp"]) for r in hits(e_raw).collect()}
    enc = {
        int(r["id"]): (r["hub_fp"], r["auth_fp"])
        for r in hits(e_str).collect()
    }
    assert raw == enc


def test_label_propagation_hand_graph(spark):
    from kg.ops import label_propagation

    # triangle a-b-c converges to community a by round 2; the d-e pair
    # 2-cycles under synchronous updates (documented) so at rounds=2
    # each holds its own label again; self-loop-only vertex s is
    # isolated and keeps itself
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("d", "e"), ("s", "s")],
        "out_id string, in_id string",
    )
    got = {
        r["id"]: r["community"]
        for r in label_propagation(e, rounds=2).collect()
    }
    assert got == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "e", "s": "s"}
    import pytest as _pt

    with _pt.raises(ValueError):
        label_propagation(e, rounds=0)


def test_label_propagation_plurality_beats_min(spark):
    from kg.ops import label_propagation

    # round 1: p,q adopt m (min of {x,m}); r adopts a (min of {x,a}).
    # round 2: x's neighbor labels are {m:2, a:1} — the PLURALITY label
    # m must win even though label a sorts lower, separating the rule
    # from a min-of-neighbors fixpoint
    e = spark.createDataFrame(
        [("x", "p"), ("x", "q"), ("x", "r"), ("p", "m"), ("q", "m"),
         ("r", "a")],
        "out_id string, in_id string",
    )
    got = {
        r["id"]: r["community"]
        for r in label_propagation(e, rounds=2).collect()
    }
    assert got["x"] == "m"


def _rand_edges(seed: str, n_verts: int, n_edges: int):
    """Deterministic pseudo-random directed edge list (sha256-derived —
    the repo's no-RNG-state rule) including multi-edges and self-loops."""
    import hashlib

    out = []
    for i in range(n_edges):
        h = hashlib.sha256(f"{seed}:{i}".encode()).digest()
        out.append((f"v{h[0] % n_verts}", f"v{h[1] % n_verts}"))
    return out


def _naive_lpa(edges, rounds):
    from collections import Counter, defaultdict

    und = {tuple(sorted((u, v))) for u, v in edges if u != v}
    adj = defaultdict(set)
    for u, v in und:
        adj[u].add(v)
        adj[v].add(u)
    verts = {x for e in edges for x in e}
    lbl = {v: v for v in adj}
    for _ in range(rounds):
        lbl = {
            v: min(
                Counter(lbl[n] for n in adj[v]).items(),
                key=lambda kv: (-kv[1], kv[0]),
            )[0]
            for v in adj
        }
    return {v: lbl.get(v, v) for v in verts}


def _naive_hits(edges, iters):
    from collections import defaultdict

    verts = {x for e in edges for x in e}

    def norm(s, m):
        return (s // m) * 10**6 + ((s % m) * 10**6) // m

    hub = {v: 10**6 for v in verts}
    auth = {}
    for _ in range(iters):
        raw = defaultdict(int)
        for s, d in edges:
            if s in hub:
                raw[d] += hub[s]
        m = max(max(raw.values(), default=0), 1)
        auth = {v: norm(x, m) for v, x in raw.items()}
        raw = defaultdict(int)
        for s, d in edges:
            if d in auth:
                raw[s] += auth[d]
        m = max(max(raw.values(), default=0), 1)
        hub = {v: norm(x, m) for v, x in raw.items()}
    return {v: (hub.get(v, 0), auth.get(v, 0)) for v in verts}


def test_lpa_and_hits_match_naive_on_random_graphs(spark):
    """Seeded-random battery (multi-edges, self-loops, isolated
    subgraphs): the distributed ops must agree with independent naive
    Python implementations of the same update rules on every graph."""
    from kg.ops import hits, label_propagation

    for seed in ("g1", "g2", "g3", "g4"):
        edges = _rand_edges(seed, n_verts=9, n_edges=16)
        e = spark.createDataFrame(edges, "out_id string, in_id string")
        got_lpa = {
            r["id"]: r["community"]
            for r in label_propagation(e, rounds=3).collect()
        }
        assert got_lpa == _naive_lpa(edges, 3), f"lpa diverged on {seed}"
        got_hits = {
            r["id"]: (r["hub_fp"], r["auth_fp"])
            for r in hits(e, iters=3).collect()
        }
        assert got_hits == _naive_hits(edges, 3), f"hits diverged on {seed}"


# ---------------------------------------------------------------------------
# k-core peeling
# ---------------------------------------------------------------------------
_CLIQUE_TAIL = [
    # 4-clique a-b-c-d plus a tail d-e-f: peeling at k=2 sheds f, then e
    ("a", "b"), ("a", "c"), ("a", "d"),
    ("b", "c"), ("b", "d"), ("c", "d"),
    ("d", "e"), ("e", "f"),
]


def test_k_core_peels_tail_round_by_round(spark):
    from kg.ops import k_core

    edges = spark.createDataFrame(_CLIQUE_TAIL, "out_id string, in_id string")
    # round 1 removes only f (degree 1); e survives with residual degree 1
    r1 = {r.id: r.core_degree for r in k_core(edges, k=2, rounds=1).collect()}
    assert r1 == {"a": 3, "b": 3, "c": 3, "d": 4, "e": 1}
    # round 2 removes e; the clique is the fixpoint, every degree = 3
    for rounds in (2, 3, 5):
        got = {
            r.id: r.core_degree
            for r in k_core(edges, k=2, rounds=rounds).collect()
        }
        assert got == {"a": 3, "b": 3, "c": 3, "d": 3}
    # k above the clique degree empties the graph
    assert k_core(edges, k=4, rounds=3).count() == 0


def test_k_core_direction_and_duplicate_invariant(spark):
    from kg.ops import k_core

    fwd = spark.createDataFrame(_CLIQUE_TAIL, "out_id string, in_id string")
    # reversed + duplicated edges and a self-loop: same undirected simple graph
    rows = (
        [(b, a) for a, b in _CLIQUE_TAIL]
        + _CLIQUE_TAIL
        + [("a", "a")]
    )
    messy = spark.createDataFrame(rows, "out_id string, in_id string")
    want = sorted(map(tuple, k_core(fwd, k=2, rounds=3).collect()))
    got = sorted(map(tuple, k_core(messy, k=2, rounds=3).collect()))
    assert got == want


def test_k_core_long_ids_match_raw_path(spark):
    from kg.ops.graph import _k_core_impl
    from kg.ops import k_core

    edges = spark.createDataFrame(_CLIQUE_TAIL, "out_id string, in_id string")
    enc = k_core(edges, k=2, rounds=2).collect()
    raw = _k_core_impl(edges, 2, 2, "out_id", "in_id").collect()
    assert sorted(map(tuple, enc)) == sorted(map(tuple, raw))


def test_k_core_validates_args(spark):
    from kg.ops import k_core

    edges = spark.createDataFrame(_CLIQUE_TAIL, "out_id string, in_id string")
    with pytest.raises(ValueError):
        k_core(edges, k=0)
    with pytest.raises(ValueError):
        k_core(edges, k=2, rounds=0)


# ---------------------------------------------------------------------------
# degree assortativity
# ---------------------------------------------------------------------------
def test_assortativity_hand_value(spark):
    from kg.ops import assortativity

    edges = spark.createDataFrame(_CLIQUE_TAIL, "out_id string, in_id string")
    # hand Newman 2002 over 16 ordered pairs: m2=16, Σjk=146, Σj=48,
    # Σj²=154 → r = (16·146−48²)/(16·154−48²) = 32/160 = 0.2
    row = assortativity(edges).collect()[0]
    assert row.n_edges == 8
    assert row.assortativity == pytest.approx(0.2, abs=1e-9)


def test_assortativity_regular_graph_is_null(spark):
    from kg.ops import assortativity

    # a 4-cycle: every degree 2 → zero variance → NULL, not a crash
    cyc = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")],
        "out_id string, in_id string",
    )
    row = assortativity(cyc).collect()[0]
    assert row.n_edges == 4
    assert row.assortativity is None


def test_assortativity_star_is_disassortative(spark):
    from kg.ops import assortativity

    # star: hub attaches only to leaves → r = -1 exactly
    star = spark.createDataFrame(
        [("h", f"l{i}") for i in range(5)], "out_id string, in_id string"
    )
    row = assortativity(star).collect()[0]
    assert row.assortativity == pytest.approx(-1.0, abs=1e-9)


# ---------------------------------------------------------------------------
# global transitivity
# ---------------------------------------------------------------------------
def test_transitivity_hand_value(spark):
    from kg.ops import transitivity

    # triangle a-b-c plus pendant c-d: degrees (2,2,3,1) → wedges
    # 1+1+3+0 = 5; one triangle → n_closed = 3 → C = 0.6
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")],
        "out_id string, in_id string",
    )
    row = transitivity(e).collect()[0]
    assert (row.n_wedges, row.n_closed) == (5, 3)
    assert row.transitivity == pytest.approx(0.6, abs=1e-9)


def test_transitivity_degenerate_graphs(spark):
    from kg.ops import transitivity

    # open wedge: 1 wedge, 0 closed → 0.0 (not NULL)
    wedge = spark.createDataFrame(
        [("a", "b"), ("a", "c")], "out_id string, in_id string"
    )
    row = transitivity(wedge).collect()[0]
    assert (row.n_wedges, row.n_closed, row.transitivity) == (1, 0, 0.0)
    # single edge: no wedge at all → NULL ratio, not a division error
    single = spark.createDataFrame([("a", "b")], "out_id string, in_id string")
    row = transitivity(single).collect()[0]
    assert (row.n_wedges, row.n_closed) == (0, 0)
    assert row.transitivity is None


def test_transitivity_matches_clustering_on_clique(spark):
    from kg.ops import transitivity

    # K4: every wedge closes → C = 1.0 (12 wedges, 4 triangles → 12 closed)
    k4 = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")],
        "out_id string, in_id string",
    )
    row = transitivity(k4).collect()[0]
    assert (row.n_wedges, row.n_closed, row.transitivity) == (12, 12, 1.0)


# ---------------------------------------------------------------------------
# strongly connected components
# ---------------------------------------------------------------------------
def _scc_map(df):
    return {r.id: r.scc for r in df.collect()}


def test_scc_hand_graph(spark):
    from kg.ops import strongly_connected_components

    # 3-cycle {a,b,c} with DAG tail c→d→e, 2-cycle {x,y} feeding the
    # big cycle via y→a: trim peels e then d, trip-1 coloring resolves
    # {a,b,c} (min ancestor = min descendant = a), trip 2 resolves the
    # {x,y} cycle once its path into the resolved part is cut
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"),
         ("x", "y"), ("y", "x"), ("y", "a")],
        "out_id string, in_id string",
    )
    got = _scc_map(strongly_connected_components(e, trips=2, rounds=6))
    assert got == {
        "a": "a", "b": "a", "c": "a", "d": "d", "e": "e", "x": "x", "y": "x",
    }


def test_scc_never_mislabels_with_small_external_ids(spark):
    from kg.ops import strongly_connected_components

    # the cycle {m,n} has an id-smaller ancestor a→m and an id-smaller
    # descendant n→b: both are trim-peeled singletons, and the cycle's
    # label must be its own min member m — never a or b
    e = spark.createDataFrame(
        [("a", "m"), ("m", "n"), ("n", "m"), ("n", "b")],
        "out_id string, in_id string",
    )
    got = _scc_map(strongly_connected_components(e, trips=2, rounds=6))
    assert got == {"a": "a", "b": "b", "m": "m", "n": "m"}


def test_scc_self_loops_and_duplicates(spark):
    from kg.ops import strongly_connected_components

    # self-loop-only vertex s is a singleton; duplicate edges collapse
    e = spark.createDataFrame(
        [("s", "s"), ("a", "b"), ("a", "b"), ("b", "a")],
        "out_id string, in_id string",
    )
    got = _scc_map(strongly_connected_components(e, trips=1, rounds=4))
    assert got == {"s": "s", "a": "a", "b": "a"}


def test_scc_unresolved_is_null_not_wrong(spark):
    from kg.ops import strongly_connected_components

    # an 8-ring needs 7 propagation rounds; with rounds=2 the probe
    # proves non-convergence and the op must return NULL for every ring
    # vertex — never a label that would split the single true SCC
    ring = [(f"v{i}", f"v{(i + 1) % 8}") for i in range(8)]
    e = spark.createDataFrame(ring, "out_id string, in_id string")
    got = _scc_map(strongly_connected_components(e, trips=1, rounds=2))
    assert set(got) == {f"v{i}" for i in range(8)}
    assert all(v is None for v in got.values())
    # and with enough rounds the same ring resolves exactly
    got = _scc_map(strongly_connected_components(e, trips=1, rounds=8))
    assert got == {f"v{i}": "v0" for i in range(8)}


def _naive_scc(edges):
    """Min-member SCC labels via boolean transitive closure (n is tiny)."""
    verts = sorted({x for e in edges for x in e})
    idx = {v: i for i, v in enumerate(verts)}
    n = len(verts)
    reach = [[False] * n for _ in range(n)]
    for u, v in edges:
        reach[idx[u]][idx[v]] = True
    for k in range(n):
        for i in range(n):
            if reach[i][k]:
                row_k = reach[k]
                row_i = reach[i]
                for j in range(n):
                    if row_k[j]:
                        row_i[j] = True
    out = {}
    for v in verts:
        i = idx[v]
        members = [
            u for u in verts
            if u == v or (reach[i][idx[u]] and reach[idx[u]][i])
        ]
        out[v] = min(members)
    return out


def test_scc_matches_naive_on_random_graphs(spark):
    """Seeded-random battery: with bounds sized to the graph (trips =
    rounds = n), trim + FW/BW coloring must resolve EVERY vertex and
    agree with an independent transitive-closure SCC oracle."""
    from kg.ops import strongly_connected_components

    for seed in ("g1", "g2", "g3", "g4"):
        edges = _rand_edges(seed, n_verts=9, n_edges=16)
        e = spark.createDataFrame(edges, "out_id string, in_id string")
        got = _scc_map(strongly_connected_components(e, trips=9, rounds=9))
        assert None not in got.values(), f"unresolved vertex on {seed}"
        assert got == _naive_scc(edges), f"scc diverged on {seed}"


def test_scc_validates_args(spark):
    from kg.ops import strongly_connected_components

    e = spark.createDataFrame([("a", "b")], "out_id string, in_id string")
    with pytest.raises(ValueError):
        strongly_connected_components(e, trips=0)
    with pytest.raises(ValueError):
        strongly_connected_components(e, rounds=0)
    with pytest.raises(ValueError):
        strongly_connected_components(e, trim_rounds=-1)


# ---------------------------------------------------------------------------
# Adamic-Adar link prediction
# ---------------------------------------------------------------------------
def test_adamic_adar_hand_graph(spark):
    from kg.ops import adamic_adar

    # 4-cycle a-b-c-d plus diagonal a-c: degrees a3 b2 c3 d2;
    # floor(1e6/ln 3) = 910239, floor(1e6/ln 2) = 1442695
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("a", "c")],
        "out_id string, in_id string",
    )
    got = {
        (r.a, r.b): (r.n_common, r.aa_fp, r.adamic_adar)
        for r in adamic_adar(e).collect()
    }
    assert got == {
        ("a", "b"): (1, 910239, 0.910239),
        ("a", "c"): (2, 2 * 1442695, 2.88539),
        ("a", "d"): (1, 910239, 0.910239),
        ("b", "c"): (1, 910239, 0.910239),
        ("b", "d"): (2, 2 * 910239, 1.820478),
        ("c", "d"): (1, 910239, 0.910239),
    }


def test_adamic_adar_fanout_cap_and_min_common(spark):
    from kg.ops import adamic_adar

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("a", "c")],
        "out_id string, in_id string",
    )
    # cap 2 drops the degree-3 mids a and c: only (a,c) keeps evidence
    got = {
        (r.a, r.b): (r.n_common, r.aa_fp)
        for r in adamic_adar(e, max_fanout=2).collect()
    }
    assert got == {("a", "c"): (2, 2 * 1442695)}
    # min_common=2 keeps only the two-witness pairs
    got = {
        (r.a, r.b) for r in adamic_adar(e, min_common=2).collect()
    }
    assert got == {("a", "c"), ("b", "d")}


def test_adamic_adar_degree_one_mid_is_safe(spark):
    from kg.ops import adamic_adar

    # pendant p-q: q has degree 1 — must not evaluate 1/ln(1) (ANSI
    # Infinity cast error), and contributes no pair
    e = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("p", "q")], "out_id string, in_id string"
    )
    got = {(r.a, r.b): r.n_common for r in adamic_adar(e).collect()}
    assert got == {("b", "c"): 1}


def _naive_und(edges):
    return {tuple(sorted((u, v))) for u, v in edges if u != v}


def test_transitivity_and_adamic_adar_match_naive_on_random_graphs(spark):
    """Seeded-random battery: exact wedge/closure counts and micro-unit
    Adamic-Adar sums must agree with brute-force Python references."""
    import math
    from itertools import combinations

    from kg.ops import adamic_adar, transitivity

    for seed in ("g1", "g2", "g3", "g4"):
        edges = _rand_edges(seed, n_verts=9, n_edges=16)
        e = spark.createDataFrame(edges, "out_id string, in_id string")
        und = _naive_und(edges)
        adj = {}
        for u, v in und:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        wedges = sum(len(ns) * (len(ns) - 1) // 2 for ns in adj.values())
        tri = {
            frozenset(t)
            for t in combinations(adj, 3)
            if t[1] in adj[t[0]] and t[2] in adj[t[0]] and t[2] in adj[t[1]]
        }
        row = transitivity(e).collect()[0]
        assert (row.n_wedges, row.n_closed) == (wedges, 3 * len(tri)), seed
        want = {}
        for a, b in combinations(sorted(adj), 2):
            common = adj[a] & adj[b]
            if common:
                fp = sum(
                    math.floor(1e6 / math.log(len(adj[m]))) for m in common
                )
                want[(a, b)] = (len(common), fp)
        got = {
            (r.a, r.b): (r.n_common, r.aa_fp) for r in adamic_adar(e).collect()
        }
        assert got == want, seed


def test_resource_allocation_hand_graph(spark):
    from kg.ops import resource_allocation

    # 4-cycle a-b-c-d plus diagonal a-c: degrees a3 b2 c3 d2;
    # 1e6 // 3 = 333333, 1e6 // 2 = 500000 — pure integer weights
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("a", "c")],
        "out_id string, in_id string",
    )
    got = {
        (r.a, r.b): (r.n_common, r.ra_fp, r.resource_allocation)
        for r in resource_allocation(e).collect()
    }
    assert got == {
        ("a", "b"): (1, 333333, 0.333333),
        ("a", "c"): (2, 1000000, 1.0),
        ("a", "d"): (1, 333333, 0.333333),
        ("b", "c"): (1, 333333, 0.333333),
        ("b", "d"): (2, 666666, 0.666666),
        ("c", "d"): (1, 333333, 0.333333),
    }


def test_resource_allocation_matches_naive_on_random_graphs(spark):
    from itertools import combinations

    from kg.ops import resource_allocation

    for seed in ("g1", "g2", "g3", "g4"):
        edges = _rand_edges(seed, n_verts=9, n_edges=16)
        e = spark.createDataFrame(edges, "out_id string, in_id string")
        adj = {}
        for u, v in _naive_und(edges):
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        want = {}
        for a, b in combinations(sorted(adj), 2):
            common = adj[a] & adj[b]
            if common:
                want[(a, b)] = (
                    len(common),
                    sum(1_000_000 // len(adj[m]) for m in common),
                )
        got = {
            (r.a, r.b): (r.n_common, r.ra_fp)
            for r in resource_allocation(e).collect()
        }
        assert got == want, seed


# ---------------------------------------------------------------------------
# weighted PageRank
# ---------------------------------------------------------------------------
def test_weighted_pagerank_hand_round(spark):
    from kg.ops import pagerank

    # a→b (w=3), a→c (w=1): after one round b gets floor(1e6·3/4) = 750000
    # raw mass → 150000 + floor(750000·0.85) = 787500; c 362500; a 150000
    e = spark.createDataFrame(
        [("a", "b", 3), ("a", "c", 1)], "out_id string, in_id string, w long"
    )
    got = {
        r.id: r.rank_fp
        for r in pagerank(e, iters=1, weight_col="w").collect()
    }
    assert got == {"a": 150000, "b": 787500, "c": 362500}


def test_weighted_pagerank_unit_weights_match_unweighted(spark):
    from kg.ops import pagerank

    rows = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("p1", "m"),
            ("m", "q1"), ("m", "q2")]
    e = spark.createDataFrame(rows, "out_id string, in_id string")
    ew = spark.createDataFrame(
        [(u, v, 1) for u, v in rows], "out_id string, in_id string, w long"
    )
    want = {r.id: r.rank_fp for r in pagerank(e, iters=3).collect()}
    got = {
        r.id: r.rank_fp
        for r in pagerank(ew, iters=3, weight_col="w").collect()
    }
    assert got == want


def test_weighted_pagerank_drops_nonpositive_weights_keeps_vertices(spark):
    from kg.ops import pagerank

    # the w=0 edge contributes no mass but its endpoints stay vertices
    e = spark.createDataFrame(
        [("a", "b", 2), ("a", "z", 0)], "out_id string, in_id string, w long"
    )
    got = {
        r.id: r.rank_fp
        for r in pagerank(e, iters=1, weight_col="w").collect()
    }
    # all mass flows a→b: floor(1e6·2/2) = 1e6 → 150000 + 850000
    assert got == {"a": 150000, "b": 1000000, "z": 150000}


# ---------------------------------------------------------------------------
# k-truss peeling
# ---------------------------------------------------------------------------
def test_k_truss_hand_graph(spark):
    from kg.ops import k_truss

    # K4 {a,b,c,d} plus pendant d-e and a triangle {x,y,z} hanging off
    # via z-a: k=3 (support >= 1) peels the two bridge-ish edges with no
    # triangle; K4 edges keep support 2, the xyz triangle support 1
    e = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
         ("c", "d"), ("d", "e"), ("x", "y"), ("y", "z"), ("x", "z"),
         ("z", "a")],
        "out_id string, in_id string",
    )
    got = {(r.u, r.v): r.support for r in k_truss(e, k=3, rounds=2).collect()}
    assert got == {
        ("a", "b"): 2, ("a", "c"): 2, ("a", "d"): 2,
        ("b", "c"): 2, ("b", "d"): 2, ("c", "d"): 2,
        ("x", "y"): 1, ("x", "z"): 1, ("y", "z"): 1,
    }
    # k=4 (support >= 2): only the K4 is a 4-truss; xyz peels round 1
    got = {(r.u, r.v): r.support for r in k_truss(e, k=4, rounds=2).collect()}
    assert set(got) == {("a", "b"), ("a", "c"), ("a", "d"),
                        ("b", "c"), ("b", "d"), ("c", "d")}
    assert set(got.values()) == {2}
    # k=5: K4 edges have support 2 < 3 → everything peels
    assert k_truss(e, k=5, rounds=2).count() == 0
    # k=2 keeps every edge (support >= 0), the degenerate contract
    assert k_truss(e, k=2, rounds=1).count() == 11


def test_k_truss_cascade_needs_rounds(spark):
    from kg.ops import k_truss

    # two triangles sharing edge b-c, plus pendant triangle support:
    # chain where round-1 removals reduce support for round 2 —
    # triangles abc and bcd; edge a-b also in triangle abe? Build:
    # abc + bcd + e pendant on a: k=4 requires support >= 2: only b-c
    # has support 2 initially; its neighbors have 1 → all peel by
    # round 2 (b-c loses its triangles once the others go)
    e = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("b", "d"), ("c", "d")],
        "out_id string, in_id string",
    )
    r1 = k_truss(e, k=4, rounds=1)
    r2 = k_truss(e, k=4, rounds=2)
    # round 1 keeps b-c (stale support 2) with RECOMPUTED support 0
    assert {(r.u, r.v, r.support) for r in r1.collect()} == {("b", "c", 0)}
    # round 2 reaches the fixpoint: nothing survives
    assert r2.count() == 0


def test_k_truss_validates_args_and_long_ids(spark):
    from kg.ops import k_truss

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c")], "out_id string, in_id string"
    )
    with pytest.raises(ValueError):
        k_truss(e, k=1)
    with pytest.raises(ValueError):
        k_truss(e, rounds=0)
    # integral ids take the raw path; results match the string-id run
    ei = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "out_id long, in_id long"
    )
    got = {(r.u, r.v): r.support for r in k_truss(ei, k=3, rounds=1).collect()}
    assert got == {(1, 2): 1, (1, 3): 1, (2, 3): 1}


def test_k_truss_matches_naive_on_random_graphs(spark):
    """Seeded-random battery: the bounded synchronous peel must equal a
    naive Python replica of the SAME rule (same round count, support
    recomputed in the final surviving subgraph)."""
    from kg.ops import k_truss

    def naive_bounded(edges, k, rounds):
        und = set(_naive_und(edges))

        def supports(cur):
            adj = {}
            for u, v in cur:
                adj.setdefault(u, set()).add(v)
                adj.setdefault(v, set()).add(u)
            return {(u, v): len(adj[u] & adj[v]) for u, v in cur}

        for _ in range(rounds):
            sup = supports(und)
            und = {e for e in und if sup[e] >= k - 2}
        return supports(und)

    for seed in ("g1", "g2"):
        edges = _rand_edges(seed, n_verts=9, n_edges=16)
        e = spark.createDataFrame(edges, "out_id string, in_id string")
        for k in (3, 4):
            got = {
                (r.u, r.v): r.support
                for r in k_truss(e, k=k, rounds=3).collect()
            }
            assert got == naive_bounded(edges, k, 3), f"{seed} k={k}"


# ---------------------------------------------------------------------------
# Katz centrality
# ---------------------------------------------------------------------------
def test_katz_hand_graph(spark):
    from kg.ops import katz

    # a->b, a->c, b->c, c->a with alpha = 0.5 for hand arithmetic:
    # round 1: a = 1e6 + 0.5*x(c), b = 1e6 + 0.5*x(a),
    #          c = 1e6 + 0.5*x(a) + 0.5*x(b)
    # x1 = {a: 1.5e6, b: 1.5e6, c: 2.0e6}
    # round 2 splits: split(1.5e6) = 500000 + 250000 = 750000,
    #                 split(2.0e6) = 1000000
    # x2 = {a: 2.0e6, b: 1.75e6, c: 2.5e6}
    e = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a")],
        "out_id string, in_id string",
    )
    one = {r["id"]: r["katz_fp"] for r in katz(e, iters=1, alpha_ppm=500000).collect()}
    assert one == {"a": 1_500_000, "b": 1_500_000, "c": 2_000_000}
    two = {r["id"]: r["katz_fp"] for r in katz(e, iters=2, alpha_ppm=500000).collect()}
    assert two == {"a": 2_000_000, "b": 1_750_000, "c": 2_500_000}


def test_katz_multi_edges_each_contribute(spark):
    from kg.ops import katz

    # duplicate x->y rows are distinct walks: y gets 2 * alpha * x(x)
    e = spark.createDataFrame(
        [("x", "y"), ("x", "y")], "out_id string, in_id string"
    )
    got = {r["id"]: r["katz_fp"] for r in katz(e, iters=1, alpha_ppm=500000).collect()}
    assert got == {"x": 1_000_000, "y": 2_000_000}


def test_katz_long_ids_match_raw_path(spark):
    from kg.ops import katz

    e_raw = spark.createDataFrame(
        [(1, 3), (2, 3), (3, 4)], "out_id long, in_id long"
    )
    e_str = e_raw.select(
        F.col("out_id").cast("string").alias("out_id"),
        F.col("in_id").cast("string").alias("in_id"),
    )
    raw = {r["id"]: r["katz_fp"] for r in katz(e_raw).collect()}
    enc = {int(r["id"]): r["katz_fp"] for r in katz(e_str).collect()}
    assert raw == enc


def test_katz_matches_naive_on_random_graphs(spark):
    """Seeded-random battery: the split-identity integer update replayed
    in plain Python must agree bit-for-bit (multi-edges and self-loops
    included — both are walks)."""
    from kg.ops import katz

    def naive(edges, iters, alpha):
        verts = {u for u, _ in edges} | {v for _, v in edges}
        x = {v: 1_000_000 for v in verts}
        for _ in range(iters):
            nxt = {v: 1_000_000 for v in verts}
            for u, v in edges:
                nxt[v] += (x[u] // 1_000_000) * alpha + (
                    (x[u] % 1_000_000) * alpha
                ) // 1_000_000
            x = nxt
        return x

    for seed in ("k1", "k2", "k3"):
        edges = _rand_edges(seed, n_verts=8, n_edges=14)
        e = spark.createDataFrame(edges, "out_id string, in_id string")
        got = {r["id"]: r["katz_fp"] for r in katz(e, iters=3, alpha_ppm=50000).collect()}
        assert got == naive(edges, 3, 50000), seed


def test_katz_validates_args(spark):
    import pytest

    from kg.ops import katz

    e = spark.createDataFrame([("a", "b")], "out_id string, in_id string")
    with pytest.raises(ValueError):
        katz(e, iters=0)
    with pytest.raises(ValueError):
        katz(e, alpha_ppm=0)
    with pytest.raises(ValueError):
        katz(e, alpha_ppm=1_000_000)


# ---------------------------------------------------------------------------
# preferential attachment
# ---------------------------------------------------------------------------
def test_preferential_attachment_hand_graph(spark):
    from kg.ops import preferential_attachment

    # 4-cycle a-b-c-d plus diagonal a-c: degrees a3 b2 c3 d2
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("a", "c")],
        "out_id string, in_id string",
    )
    got = {
        (r.a, r.b): (r.n_common, r.pref_attach)
        for r in preferential_attachment(e).collect()
    }
    assert got == {
        ("a", "b"): (1, 6),
        ("a", "c"): (2, 9),
        ("a", "d"): (1, 6),
        ("b", "c"): (1, 6),
        ("b", "d"): (2, 4),
        ("c", "d"): (1, 6),
    }


def test_preferential_attachment_cap_and_min_common(spark):
    from kg.ops import preferential_attachment

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("a", "c")],
        "out_id string, in_id string",
    )
    # cap 2 drops the degree-3 mids a and c; only (a,c) keeps witnesses
    got = {
        (r.a, r.b): (r.n_common, r.pref_attach)
        for r in preferential_attachment(e, max_fanout=2).collect()
    }
    assert got == {("a", "c"): (2, 9)}
    got = {
        (r.a, r.b)
        for r in preferential_attachment(e, min_common=2).collect()
    }
    assert got == {("a", "c"), ("b", "d")}


def test_preferential_attachment_matches_naive_on_random_graphs(spark):
    from itertools import combinations

    from kg.ops import preferential_attachment

    for seed in ("p1", "p2", "p3"):
        edges = _rand_edges(seed, n_verts=9, n_edges=16)
        e = spark.createDataFrame(edges, "out_id string, in_id string")
        adj = {}
        for u, v in _naive_und(edges):
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        want = {
            (a, b): (len(adj[a] & adj[b]), len(adj[a]) * len(adj[b]))
            for a, b in combinations(sorted(adj), 2)
            if adj[a] & adj[b]
        }
        got = {
            (r.a, r.b): (r.n_common, r.pref_attach)
            for r in preferential_attachment(e).collect()
        }
        assert got == want, seed


# ---------------------------------------------------------------------------
# harmonic centrality
# ---------------------------------------------------------------------------
def test_harmonic_hand_graph(spark):
    from kg.ops import harmonic_centrality

    # directed path a->b->c->d, sources {a, b}:
    # b: d(a,b)=1 -> 1000000 (n=1)
    # c: d(a,c)=2, d(b,c)=1 -> 500000 + 1000000 (n=2)
    # d: d(a,d)=3, d(b,d)=2 -> 333333 + 500000 (n=2)
    # a: unreachable from both -> 0 (n=0); source self-distance excluded
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "out_id string, in_id string"
    )
    src = spark.createDataFrame([("a",), ("b",)], "id string")
    got = {
        r["id"]: (r["hc_fp"], r["n_reached"])
        for r in harmonic_centrality(e, src, rounds=3).collect()
    }
    assert got == {
        "a": (0, 0),
        "b": (1_000_000, 1),
        "c": (1_500_000, 2),
        "d": (833_333, 2),
    }


def test_harmonic_truncation_and_outside_sources(spark):
    from kg.ops import harmonic_centrality

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "out_id string, in_id string"
    )
    # rounds=1 truncates: only 1-hop neighbors score; an unknown source
    # id contributes nothing (the PPR outside-the-graph contract)
    src = spark.createDataFrame([("a",), ("b",), ("zz",)], "id string")
    got = {
        r["id"]: (r["hc_fp"], r["n_reached"])
        for r in harmonic_centrality(e, src, rounds=1).collect()
    }
    assert got == {
        "a": (0, 0),
        "b": (1_000_000, 1),
        "c": (1_000_000, 1),
        "d": (0, 0),
    }


def test_harmonic_multi_edges_collapse_and_long_ids(spark):
    from kg.ops import harmonic_centrality

    e_raw = spark.createDataFrame(
        [(1, 2), (1, 2), (2, 3)], "out_id long, in_id long"
    )
    src_raw = spark.createDataFrame([(1,)], "id long")
    raw = {
        r["id"]: (r["hc_fp"], r["n_reached"])
        for r in harmonic_centrality(e_raw, src_raw).collect()
    }
    # duplicate 1->2 is ONE hop relation: same as the simple graph
    assert raw == {1: (0, 0), 2: (1_000_000, 1), 3: (500_000, 1)}
    e_str = e_raw.select(
        F.col("out_id").cast("string").alias("out_id"),
        F.col("in_id").cast("string").alias("in_id"),
    )
    src_str = src_raw.select(F.col("id").cast("string").alias("id"))
    enc = {
        int(r["id"]): (r["hc_fp"], r["n_reached"])
        for r in harmonic_centrality(e_str, src_str).collect()
    }
    assert enc == raw


def test_harmonic_matches_naive_on_random_graphs(spark):
    """Seeded-random battery: per-source truncated BFS + integer
    reciprocal sums replayed in plain Python."""
    from kg.ops import harmonic_centrality

    def naive(edges, sources, rounds):
        adj = {}
        verts = set()
        for u, v in edges:
            adj.setdefault(u, set()).add(v)
            verts.update((u, v))
        out = {v: [0, 0] for v in verts}
        for s in sources:
            if s not in verts:
                continue
            dist = {s: 0}
            frontier = {s}
            for d in range(1, rounds + 1):
                frontier = {
                    w
                    for u in frontier
                    for w in adj.get(u, ())
                    if w not in dist
                }
                for w in frontier:
                    dist[w] = d
                if not frontier:
                    break
            for v, d in dist.items():
                if d > 0:
                    out[v][0] += 1_000_000 // d
                    out[v][1] += 1
        return {v: tuple(x) for v, x in out.items()}

    for seed in ("h1", "h2", "h3"):
        edges = _rand_edges(seed, n_verts=9, n_edges=15)
        srcs = sorted({u for u, _ in edges})[:3]
        e = spark.createDataFrame(edges, "out_id string, in_id string")
        src = spark.createDataFrame([(s,) for s in srcs], "id string")
        got = {
            r["id"]: (r["hc_fp"], r["n_reached"])
            for r in harmonic_centrality(e, src, rounds=3).collect()
        }
        assert got == naive(edges, srcs, 3), seed


def test_harmonic_validates_rounds(spark):
    import pytest

    from kg.ops import harmonic_centrality

    e = spark.createDataFrame([("a", "b")], "out_id string, in_id string")
    src = spark.createDataFrame([("a",)], "id string")
    with pytest.raises(ValueError):
        harmonic_centrality(e, src, rounds=0)


# --------------------------------------------------------- random walks
def _walk_replica(edges, walk_length, walks_per_vertex, seed):
    """Python twin of random_walks' hash-ranked choice rule."""
    import hashlib

    adj = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
    rows = set()
    for start in sorted(adj):
        for rep in range(walks_per_vertex):
            wid = f"{start}#{rep}"
            v = start
            rows.add((wid, 0, v))
            for t in range(1, walk_length + 1):
                cands = adj.get(v)
                if not cands:
                    break
                v = min(
                    cands,
                    key=lambda d: (
                        hashlib.md5(
                            f"{seed}:{wid}:{t}:{d}".encode()
                        ).hexdigest(),
                        d,
                    ),
                )
                rows.add((wid, t, v))
    return rows


def test_random_walks_hand_graph(spark):
    """Branching + dead-end graph: walks follow the md5-argmin rule
    exactly (python replica), stop at out-degree-0 vertices, and start
    only at vertices with out-edges."""
    from kg.ops import random_walks

    edges = [("a", "b"), ("a", "c"), ("b", "d"), ("c", "a"), ("d", "b")]
    df = spark.createDataFrame(edges, ["out_id", "in_id"])
    got = {
        (r["walk_id"], r["step"], r["vertex"])
        for r in random_walks(df, walk_length=3).collect()
    }
    assert got == _walk_replica(edges, 3, 1, 0)
    # every start vertex has a step-0 row; no walk starts at a sink
    starts = {w.split("#")[0] for w, s, _ in got if s == 0}
    assert starts == {"a", "b", "c", "d"}


def test_random_walks_replicas_and_seed_are_independent(spark):
    """walks_per_vertex=2 keys each replica's choices by its own
    walk_id; a different seed re-keys every choice — both match the
    replica rule."""
    from kg.ops import random_walks

    edges = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "a"), ("c", "b"),
             ("d", "c")]
    df = spark.createDataFrame(edges, ["out_id", "in_id"])
    for seed, reps in [(0, 2), (7, 1)]:
        got = {
            (r["walk_id"], r["step"], r["vertex"])
            for r in random_walks(
                df, walk_length=4, walks_per_vertex=reps, seed=seed
            ).collect()
        }
        assert got == _walk_replica(edges, 4, reps, seed), (seed, reps)


def test_random_walks_dead_end_stops_early(spark):
    from kg.ops import random_walks

    df = spark.createDataFrame([("a", "b")], ["out_id", "in_id"])
    got = sorted(
        (r["step"], r["vertex"])
        for r in random_walks(df, walk_length=5).collect()
    )
    assert got == [(0, "a"), (1, "b")]


def test_random_walks_validation(spark):
    import pytest

    from kg.ops import random_walks

    df = spark.createDataFrame([("a", "b")], ["out_id", "in_id"])
    with pytest.raises(ValueError):
        random_walks(df, walk_length=0)
    with pytest.raises(ValueError):
        random_walks(df, walks_per_vertex=0)


# -------------------------------------------------------- co-occurrence
def test_cooccurrence_hand_counts(spark):
    """o1{p1,p2,p3}, o2{p1,p2}, o3{p2,p3}: (p1,p2)=2, (p2,p3)=2,
    (p1,p3)=1; min_count=2 drops the singleton pair; duplicate edge
    rows collapse before counting."""
    from kg.ops import cooccurrence

    rows = [("o1", "p1"), ("o1", "p2"), ("o1", "p3"), ("o2", "p1"),
            ("o2", "p2"), ("o3", "p2"), ("o3", "p3"), ("o1", "p1")]
    df = spark.createDataFrame(rows, ["out_id", "in_id"])
    got = {
        (r["a"], r["b"]): r["n_shared"]
        for r in cooccurrence(df).collect()
    }
    assert got == {("p1", "p2"): 2, ("p2", "p3"): 2, ("p1", "p3"): 1}
    filt = {
        (r["a"], r["b"]): r["n_shared"]
        for r in cooccurrence(df, min_count=2).collect()
    }
    assert filt == {("p1", "p2"): 2, ("p2", "p3"): 2}


def test_cooccurrence_fanout_cap_drops_hub_context(spark):
    """A 4-item context is dropped at max_fanout=3; its exclusive pairs
    vanish, shared pairs keep counts from surviving contexts only."""
    from kg.ops import cooccurrence

    rows = [("big", f"p{i}") for i in range(4)] + [
        ("s1", "p0"), ("s1", "p1"), ("s2", "p0"), ("s2", "p1")]
    df = spark.createDataFrame(rows, ["out_id", "in_id"])
    got = {
        (r["a"], r["b"]): r["n_shared"]
        for r in cooccurrence(df, max_fanout=3).collect()
    }
    assert got == {("p0", "p1"): 2}


def test_cooccurrence_integral_ids_match_string_path(spark):
    """The integral-id (unencoded) path and the string-id (xxhash64-
    encoded) path agree on the same structure, and output pairs are
    canonicalized on the CALLER's ids in both."""
    from kg.ops import cooccurrence

    rows = [(1, 10), (1, 11), (2, 10), (2, 11), (2, 12)]
    ints = spark.createDataFrame(rows, ["out_id", "in_id"])
    strs = spark.createDataFrame(
        [(f"c{o}", f"i{i}") for o, i in rows], ["out_id", "in_id"]
    )
    gi = {
        (r["a"], r["b"]): r["n_shared"] for r in cooccurrence(ints).collect()
    }
    gs = {
        (r["a"], r["b"]): r["n_shared"] for r in cooccurrence(strs).collect()
    }
    assert gi == {(10, 11): 2, (10, 12): 1, (11, 12): 1}
    assert gs == {(f"i{a}", f"i{b}"): n for (a, b), n in gi.items()}
    for a, b in gs:
        assert a < b


def test_cooccurrence_validation(spark):
    import pytest

    from kg.ops import cooccurrence

    df = spark.createDataFrame([("a", "b")], ["out_id", "in_id"])
    with pytest.raises(ValueError):
        cooccurrence(df, min_count=0)


# ------------------------------------------------------- skip-gram pairs
def test_skipgram_pairs_hand_walk(spark):
    """One 4-step walk a,b,c,d with window=2: every in-window ordered
    pair with its signed delta, nothing at distance 3."""
    from kg.ops import skipgram_pairs

    walk = [("w", 0, "a"), ("w", 1, "b"), ("w", 2, "c"), ("w", 3, "d")]
    df = spark.createDataFrame(walk, ["walk_id", "step", "vertex"])
    got = {
        (r["center"], r["context"], r["delta"])
        for r in skipgram_pairs(df, window=2).collect()
    }
    seq = {0: "a", 1: "b", 2: "c", 3: "d"}
    exp = {
        (seq[s], seq[t], t - s)
        for s in seq
        for t in seq
        if t != s and abs(t - s) <= 2
    }
    assert got == exp
    assert ("a", "d", 3) not in got


def test_skipgram_pairs_never_cross_walks(spark):
    from kg.ops import skipgram_pairs

    rows = [("w1", 0, "a"), ("w1", 1, "b"), ("w2", 0, "x"), ("w2", 1, "y")]
    df = spark.createDataFrame(rows, ["walk_id", "step", "vertex"])
    got = {
        (r["walk_id"], r["center"], r["context"])
        for r in skipgram_pairs(df, window=2).collect()
    }
    assert got == {
        ("w1", "a", "b"), ("w1", "b", "a"),
        ("w2", "x", "y"), ("w2", "y", "x"),
    }


def test_skipgram_pairs_window_one_and_validation(spark):
    import pytest

    from kg.ops import skipgram_pairs

    walk = [("w", 0, "a"), ("w", 1, "b"), ("w", 2, "c")]
    df = spark.createDataFrame(walk, ["walk_id", "step", "vertex"])
    got = {
        (r["center"], r["context"], r["delta"])
        for r in skipgram_pairs(df, window=1).collect()
    }
    assert got == {("a", "b", 1), ("b", "a", -1), ("b", "c", 1),
                   ("c", "b", -1)}
    with pytest.raises(ValueError):
        skipgram_pairs(df, window=0)


def test_skipgram_pairs_compose_with_random_walks(spark):
    """End-to-end: walks → pairs; every pair's center/context are
    adjacent-or-2-apart positions of an actual generated walk."""
    from kg.ops import random_walks, skipgram_pairs

    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")]
    df = spark.createDataFrame(edges, ["out_id", "in_id"])
    walks = random_walks(df, walk_length=3)
    seqs = {}
    for r in walks.collect():
        seqs.setdefault(r["walk_id"], {})[r["step"]] = r["vertex"]
    exp = set()
    for wid, seq in seqs.items():
        for s in seq:
            for t in seq:
                if t != s and abs(t - s) <= 2:
                    exp.add((wid, seq[s], seq[t], t - s))
    got = {
        (r["walk_id"], r["center"], r["context"], r["delta"])
        for r in skipgram_pairs(walks, window=2).collect()
    }
    assert got == exp and len(got) > 0


def test_cooccurrence_pmi_hand_values(spark):
    """o1{p1,p2}, o2{p1,p2}, o3{p1,p3}: N=3, cnt p1=3 p2=2 p3=1;
    pmi(p1,p2)=ln(2·3/(3·2))=0, pmi(p1,p3)=ln(1·3/(3·1))=0 — and an
    anti-correlated pair scores negative."""
    import math

    from kg.ops import cooccurrence_pmi

    rows = [("o1", "p1"), ("o1", "p2"), ("o2", "p1"), ("o2", "p2"),
            ("o3", "p1"), ("o3", "p3")]
    df = spark.createDataFrame(rows, ["out_id", "in_id"])
    got = {
        (r["a"], r["b"]): (r["n_shared"], r["pmi_fp"])
        for r in cooccurrence_pmi(df).collect()
    }
    assert got == {("p1", "p2"): (2, 0), ("p1", "p3"): (1, 0)}
    # 4 contexts, a/b together once but each alone once more:
    # pmi = ln(1·4/(2·2)) = 0; c pairs never → absent
    rows2 = [("x1", "a"), ("x1", "b"), ("x2", "a"), ("x3", "b"),
             ("x4", "c")]
    df2 = spark.createDataFrame(rows2, ["out_id", "in_id"])
    got2 = {
        (r["a"], r["b"]): r["pmi_fp"]
        for r in cooccurrence_pmi(df2).collect()
    }
    assert got2 == {("a", "b"): 0}
    # perfect co-occurrence beats independence: 2 ctx, both items in
    # both → pmi = ln(2·2/(2·2)) = 0... use 1 shared of 2 ctx with
    # singleton marginals: pmi = ln(1·2/(1·1)) = ln 2 > 0
    rows3 = [("y1", "u"), ("y1", "v"), ("y2", "w")]
    df3 = spark.createDataFrame(rows3, ["out_id", "in_id"])
    got3 = {
        (r["a"], r["b"]): r["pmi_fp"]
        for r in cooccurrence_pmi(df3).collect()
    }
    assert got3 == {("u", "v"): math.floor(1e6 * math.log(2.0))}


def test_cooccurrence_pmi_respects_cap_and_encoding(spark):
    """Marginals and N are counted over the SAME capped frame as the
    pairs (a dropped hub context influences neither), on both the
    string (encoded) and integral path."""
    from kg.ops import cooccurrence_pmi

    rows = [("big", f"p{i}") for i in range(5)] + [
        ("s1", "p0"), ("s1", "p1"), ("s2", "p0")]
    df = spark.createDataFrame(rows, ["out_id", "in_id"])
    got = {
        (r["a"], r["b"]): (r["n_shared"], r["pmi_fp"])
        for r in cooccurrence_pmi(df, max_fanout=4).collect()
    }
    # capped frame: s1{p0,p1}, s2{p0} → N=2, cnt p0=2 p1=1
    # pmi(p0,p1) = ln(1·2/(2·1)) = 0
    assert got == {("p0", "p1"): (1, 0)}
    ints = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10)], ["out_id", "in_id"]
    )
    gi = {
        (r["a"], r["b"]): r["pmi_fp"]
        for r in cooccurrence_pmi(ints).collect()
    }
    assert gi == {(10, 11): 0}


# --------------------------------------------------------- graph summary
def test_graph_summary_hand_values(spark):
    """a→b, b→a (reciprocal pair), a→c, c→c (self-loop), dup a→b row:
    3 vertices, 4 distinct edges, 1 loop, density 3/6, reciprocity
    2/3."""
    from kg.ops import graph_summary

    rows = [("a", "b"), ("b", "a"), ("a", "c"), ("c", "c"), ("a", "b")]
    df = spark.createDataFrame(rows, ["out_id", "in_id"])
    r = graph_summary(df).collect()[0]
    assert (
        r["n_vertices"], r["n_edges"], r["n_self_loops"]
    ) == (3, 4, 1)
    assert r["density"] == 0.5
    assert r["reciprocity"] == round(2 / 3, 6)


def test_graph_summary_degenerate_graphs(spark):
    """Single-vertex self-loop graph: density and reciprocity are NULL,
    not a division blow-up."""
    from kg.ops import graph_summary

    df = spark.createDataFrame([("a", "a")], ["out_id", "in_id"])
    r = graph_summary(df).collect()[0]
    assert (r["n_vertices"], r["n_edges"], r["n_self_loops"]) == (1, 1, 1)
    assert r["density"] is None and r["reciprocity"] is None


# ---------------------------------------------------------------------------
# betweenness (sampled Brandes)
# ---------------------------------------------------------------------------
def test_betweenness_diamond_hand_graph(spark):
    """Diamond a→{b,d}→c→e, source {a}: σ(c)=2 via both arms.
    Brandes: δ(c) = (2/2)(1+δ(e)) = 1e6; δ(b) = δ(d) = (1/2)(1+δ(c))
    = 1e6 exactly at the micro-unit floor."""
    from kg.ops import betweenness

    e = spark.createDataFrame(
        [("a", "b"), ("a", "d"), ("b", "c"), ("d", "c"), ("c", "e")],
        "out_id string, in_id string",
    )
    src = spark.createDataFrame([("a",)], "id string")
    got = {
        r["id"]: (r["bc_fp"], r["n_sources"])
        for r in betweenness(e, src, rounds=3).collect()
    }
    assert got == {
        "a": (0, 0),  # the source itself accumulates nothing
        "b": (1_000_000, 1),
        "d": (1_000_000, 1),
        "c": (1_000_000, 1),
        "e": (0, 1),
    }


def test_betweenness_truncation_and_multi_source(spark):
    from kg.ops import betweenness

    e = spark.createDataFrame(
        [("a", "b"), ("a", "d"), ("b", "c"), ("d", "c"), ("c", "e")],
        "out_id string, in_id string",
    )
    # rounds=2 cuts e out of a's DAG: δ(c)=0,
    # δ(b) = δ(d) = floor(1·(1e6+0)/2) = 500000
    src = spark.createDataFrame([("a",)], "id string")
    got = {
        r["id"]: r["bc_fp"]
        for r in betweenness(e, src, rounds=2).collect()
    }
    assert got == {
        "a": 0, "b": 500_000, "d": 500_000, "c": 0, "e": 0,
    }
    # second source c adds nothing to bc (e is a leaf) but raises e's
    # support count; unknown sources are ignored
    src2 = spark.createDataFrame([("a",), ("c",), ("zz",)], "id string")
    got2 = {
        r["id"]: (r["bc_fp"], r["n_sources"])
        for r in betweenness(e, src2, rounds=3).collect()
    }
    assert got2["e"] == (0, 2)
    assert got2["b"] == (1_000_000, 1)


def test_betweenness_long_id_path_matches_raw(spark):
    """Same structure on string ids (encoded path) and integral ids
    (raw path) must score identically vertex-for-vertex."""
    from kg.ops import betweenness

    pairs = [(1, 2), (1, 4), (2, 3), (4, 3), (3, 5)]
    names = {1: "a", 2: "b", 3: "c", 4: "d", 5: "e"}
    es = spark.createDataFrame(
        [(names[u], names[v]) for u, v in pairs],
        "out_id string, in_id string",
    )
    ei = spark.createDataFrame(pairs, "out_id long, in_id long")
    ss = spark.createDataFrame([("a",)], "id string")
    si = spark.createDataFrame([(1,)], "id long")
    got_s = {
        r["id"]: (r["bc_fp"], r["n_sources"])
        for r in betweenness(es, ss, rounds=3).collect()
    }
    got_i = {
        names[r["id"]]: (r["bc_fp"], r["n_sources"])
        for r in betweenness(ei, si, rounds=3).collect()
    }
    assert got_s == got_i


def test_betweenness_validates_rounds(spark):
    import pytest

    from kg.ops import betweenness

    e = spark.createDataFrame([("a", "b")], "out_id string, in_id string")
    src = spark.createDataFrame([("a",)], "id string")
    with pytest.raises(ValueError, match="rounds"):
        betweenness(e, src, rounds=0)


# ---------------------------------------------------------------------------
# eccentricity (bounded, sampled sources)
# ---------------------------------------------------------------------------
def test_eccentricity_hand_graph(spark):
    """Path a→b→c→d: ecc(a)=3 (reach 3), ecc(b)=2 (reach 2); rounds=2
    truncates a to the lower bound 2."""
    from kg.ops import eccentricity

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "out_id string, in_id string"
    )
    src = spark.createDataFrame([("a",), ("b",), ("zz",)], "id string")
    got = {
        r["id"]: (r["ecc"], r["n_reached"])
        for r in eccentricity(e, src, rounds=3).collect()
    }
    assert got == {"a": (3, 3), "b": (2, 2)}
    trunc = {
        r["id"]: (r["ecc"], r["n_reached"])
        for r in eccentricity(e, src, rounds=2).collect()
    }
    assert trunc == {"a": (2, 2), "b": (2, 2)}


def test_eccentricity_sink_source_and_long_ids(spark):
    """A source with no out-edges reports (0, 0); integral-id raw path
    matches the encoded string path."""
    from kg.ops import eccentricity

    es = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "out_id string, in_id string"
    )
    src = spark.createDataFrame([("c",)], "id string")
    got = {
        r["id"]: (r["ecc"], r["n_reached"])
        for r in eccentricity(es, src, rounds=3).collect()
    }
    assert got == {"c": (0, 0)}
    ei = spark.createDataFrame([(1, 2), (2, 3)], "out_id long, in_id long")
    sri = spark.createDataFrame([(1,)], "id long")
    goti = {
        r["id"]: (r["ecc"], r["n_reached"])
        for r in eccentricity(ei, sri, rounds=3).collect()
    }
    srs = spark.createDataFrame([("1",)], "id string")
    ess = spark.createDataFrame(
        [("1", "2"), ("2", "3")], "out_id string, in_id string"
    )
    gots = {
        int(r["id"]): (r["ecc"], r["n_reached"])
        for r in eccentricity(ess, srs, rounds=3).collect()
    }
    assert goti == gots == {1: (2, 2)}


def test_eccentricity_validates_rounds(spark):
    import pytest

    from kg.ops import eccentricity

    e = spark.createDataFrame([("a", "b")], "out_id string, in_id string")
    src = spark.createDataFrame([("a",)], "id string")
    with pytest.raises(ValueError, match="rounds"):
        eccentricity(e, src, rounds=0)


# ---------------------------------------------------------------------------
# maximal independent set (Luby, hash priorities)
# ---------------------------------------------------------------------------
def _mis_replica(pairs, rounds, seed=0):
    """Python replica of the hash-priority Luby rule."""
    import hashlib

    adj = {}
    for u, v in pairs:
        if u == v:
            continue
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    verts = set()
    for u, v in pairs:
        verts.add(u)
        verts.add(v)
    state = {}
    undecided = set(verts)
    for r in range(1, rounds + 1):
        key = {
            v: hashlib.md5(f"{seed}:{r}:{v}".encode()).hexdigest() + "|" + v
            for v in undecided
        }
        sel = {
            v
            for v in undecided
            if all(
                key[v] < key[n]
                for n in adj.get(v, ())
                if n in undecided
            )
        }
        out = {
            n
            for v in sel
            for n in adj.get(v, ())
            if n in undecided and n not in sel
        }
        for v in sel:
            state[v] = ("in", r)
        for v in out:
            state[v] = ("out", r)
        undecided -= sel | out
    for v in undecided:
        state[v] = ("undecided", None)
    return state


def test_mis_matches_replica_and_invariants(spark):
    from kg.ops import maximal_independent_set

    pairs = [
        ("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"),  # 4-cycle
        ("c", "e"), ("e", "f"),                            # tail
        ("g", "g"),                                        # self-loop only
    ]
    e = spark.createDataFrame(pairs, "out_id string, in_id string")
    got = {
        r["id"]: (r["state"], r["round"])
        for r in maximal_independent_set(e, rounds=3).collect()
    }
    assert got == _mis_replica(pairs, 3)
    ins = {v for v, (s, _) in got.items() if s == "in"}
    adj = {(u, v) for u, v in pairs} | {(v, u) for u, v in pairs}
    # independence: no two INs adjacent
    assert not any((u, v) in adj for u in ins for v in ins if u != v)
    # every OUT has an IN neighbor
    for v, (s, _) in got.items():
        if s == "out":
            assert any((v, u) in adj and u in ins for u in got)
    # the isolated self-loop vertex has no neighbors -> joins round 1
    assert got["g"] == ("in", 1)


def test_mis_deterministic_and_seed_sensitive(spark):
    from kg.ops import maximal_independent_set

    pairs = [(f"v{i}", f"v{i+1}") for i in range(12)]
    e = spark.createDataFrame(pairs, "out_id string, in_id string")
    a = sorted(map(tuple, maximal_independent_set(e, rounds=4).collect()))
    b = sorted(map(tuple, maximal_independent_set(e, rounds=4).collect()))
    assert a == b
    got = {r[0]: (r[1], r[2]) for r in a}
    assert got == _mis_replica(pairs, 4)


def test_mis_validates_rounds(spark):
    import pytest

    from kg.ops import maximal_independent_set

    e = spark.createDataFrame([("a", "b")], "out_id string, in_id string")
    with pytest.raises(ValueError, match="rounds"):
        maximal_independent_set(e, rounds=0)


# ---------------------------------------------------------------------------
# greedy coloring (Jones-Plassmann, hash priorities)
# ---------------------------------------------------------------------------
def _coloring_replica(pairs, rounds, seed=0):
    """Python replica of the hash-priority Jones-Plassmann rule."""
    import hashlib

    adj = {}
    verts = set()
    for u, v in pairs:
        verts.add(u)
        verts.add(v)
        if u == v:
            continue
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    color = {}
    uncolored = set(verts)
    for r in range(1, rounds + 1):
        key = {
            v: hashlib.md5(f"{seed}:{r}:{v}".encode()).hexdigest() + "|" + v
            for v in uncolored
        }
        win = {
            v
            for v in uncolored
            if all(
                key[v] < key[n]
                for n in adj.get(v, ())
                if n in uncolored
            )
        }
        for v in win:
            color[v] = r
        uncolored -= win
    for v in uncolored:
        color[v] = None
    return color


def test_coloring_matches_replica_and_is_proper(spark):
    from kg.ops import greedy_coloring

    pairs = [
        ("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"),  # 4-cycle
        ("c", "e"), ("e", "f"),                            # tail
        ("g", "g"),                                        # self-loop only
    ]
    e = spark.createDataFrame(pairs, "out_id string, in_id string")
    got = {
        r["id"]: r["color"] for r in greedy_coloring(e, rounds=4).collect()
    }
    assert got == _coloring_replica(pairs, 4)
    # properness: no edge joins two vertices of the same non-NULL color
    adj = {(u, v) for u, v in pairs if u != v}
    for u, v in adj:
        if got[u] is not None:
            assert got[u] != got[v]
    # the isolated self-loop vertex has no neighbors -> colors round 1
    assert got["g"] == 1


def test_coloring_exhausts_a_path_and_stays_deterministic(spark):
    from kg.ops import greedy_coloring

    pairs = [(f"v{i}", f"v{i+1}") for i in range(12)]
    e = spark.createDataFrame(pairs, "out_id string, in_id string")
    a = sorted(map(tuple, greedy_coloring(e, rounds=8).collect()))
    b = sorted(map(tuple, greedy_coloring(e, rounds=8).collect()))
    assert a == b
    got = dict(a)
    assert got == _coloring_replica(pairs, 8)
    # a 13-vertex path exhausts well inside 8 hash-priority rounds:
    # every vertex colored, and each round's class is an independent set
    assert all(c is not None for c in got.values())
    for u, v in pairs:
        assert got[u] != got[v]


def test_coloring_budget_degrades_to_null_not_conflict(spark):
    from kg.ops import greedy_coloring

    # complete graph K5: exactly one winner per round, so rounds=2
    # leaves 3 vertices NULL -- never two adjacent same-colored ones
    vs = [f"k{i}" for i in range(5)]
    pairs = [(u, v) for i, u in enumerate(vs) for v in vs[i + 1:]]
    e = spark.createDataFrame(pairs, "out_id string, in_id string")
    got = {
        r["id"]: r["color"] for r in greedy_coloring(e, rounds=2).collect()
    }
    assert got == _coloring_replica(pairs, 2)
    assert sum(c is None for c in got.values()) == 3
    colored = [c for c in got.values() if c is not None]
    assert sorted(colored) == [1, 2]


def test_coloring_validates_rounds(spark):
    import pytest

    from kg.ops import greedy_coloring

    e = spark.createDataFrame([("a", "b")], "out_id string, in_id string")
    with pytest.raises(ValueError, match="rounds"):
        greedy_coloring(e, rounds=0)


# ---------------------------------------------------------------------------
# maximal matching (Israeli-Itai style, hash edge priorities)

def _matching_replica(pairs, rounds, seed=0):
    """Python replica of the hash-priority matching rule."""
    import hashlib

    verts = set()
    edges = set()
    for a, b in pairs:
        verts.add(a)
        verts.add(b)
        u, v = min(a, b), max(a, b)
        if u != v:
            edges.add((u, v))
    match = {}
    active = set(edges)
    for r in range(1, rounds + 1):
        key = {
            (u, v): hashlib.md5(f"{seed}:{r}:{u}:{v}".encode()).hexdigest()
            + f"|{u}|{v}"
            for u, v in active
        }
        vmin = {}
        for (u, v), k in key.items():
            for x in (u, v):
                if x not in vmin or k < vmin[x]:
                    vmin[x] = k
        win = {
            (u, v)
            for (u, v), k in key.items()
            if k == vmin[u] and k == vmin[v]
        }
        for u, v in win:
            match[u] = (v, r)
            match[v] = (u, r)
        hit = {x for e in win for x in e}
        active = {(u, v) for u, v in active if u not in hit and v not in hit}
    for x in verts:
        match.setdefault(x, (None, None))
    return match


def test_matching_matches_replica_and_is_a_matching(spark):
    from kg.ops import maximal_matching

    pairs = [
        ("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"),  # 4-cycle
        ("c", "e"), ("e", "f"),                            # tail
        ("g", "g"),                                        # self-loop only
        ("b", "a"),                                        # reversed dup
    ]
    e = spark.createDataFrame(pairs, "out_id string, in_id string")
    got = {
        r["id"]: (r["match_id"], r["round"])
        for r in maximal_matching(e, rounds=4).collect()
    }
    assert got == _matching_replica(pairs, 4)
    # matching property: partnership is symmetric and 1:1
    for x, (m, r) in got.items():
        if m is not None:
            assert got[m] == (x, r)
    # the self-loop-only vertex can never match itself
    assert got["g"] == (None, None)


def test_matching_is_maximal_with_budget(spark):
    from kg.ops import maximal_matching

    pairs = [(f"v{i}", f"v{i+1}") for i in range(12)]
    e = spark.createDataFrame(pairs, "out_id string, in_id string")
    a = sorted(map(tuple, maximal_matching(e, rounds=8).collect()))
    b = sorted(map(tuple, maximal_matching(e, rounds=8).collect()))
    assert a == b  # deterministic
    got = {i: m for i, m, _ in a}
    assert got == {k: v[0] for k, v in _matching_replica(pairs, 8).items()}
    # maximality: no edge has BOTH endpoints unmatched
    for u, v in pairs:
        assert got[u] is not None or got[v] is not None


def test_matching_budget_degrades_to_null_not_double_booking(spark):
    from kg.ops import maximal_matching

    # star K1,5: only one edge can ever match -- round 1 takes it, the
    # rest stay NULL forever (all remaining edges share the hub)
    pairs = [("hub", f"s{i}") for i in range(5)]
    e = spark.createDataFrame(pairs, "out_id string, in_id string")
    got = {
        r["id"]: (r["match_id"], r["round"])
        for r in maximal_matching(e, rounds=3).collect()
    }
    assert got == _matching_replica(pairs, 3)
    matched = {x: m for x, (m, _) in got.items() if m is not None}
    assert len(matched) == 2 and "hub" in matched
    rounds = {r for _, r in got.values() if r is not None}
    assert rounds == {1}


def test_matching_validates_rounds(spark):
    import pytest

    from kg.ops import maximal_matching

    e = spark.createDataFrame([("a", "b")], "out_id string, in_id string")
    with pytest.raises(ValueError, match="rounds"):
        maximal_matching(e, rounds=0)


def test_matching_random_battery_vs_replica(spark):
    import random

    from kg.ops import maximal_matching

    rng = random.Random(7)
    for trial in range(3):
        n = 14
        pairs = [
            (f"n{rng.randrange(n)}", f"n{rng.randrange(n)}")
            for _ in range(25)
        ]
        e = spark.createDataFrame(pairs, "out_id string, in_id string")
        got = {
            r["id"]: (r["match_id"], r["round"])
            for r in maximal_matching(e, rounds=5, seed=trial).collect()
        }
        assert got == _matching_replica(pairs, 5, seed=trial)


def _kruskal(pairs, upto=None):
    """Python Kruskal oracle under the op's exact perturbed total order
    (lpad(w,19,'0')|u|v); upto bounds the number of edges considered (for
    budget-degradation checks it is not used — Kruskal is exact)."""
    best = {}
    for u, v, w in pairs:
        a, b = min(u, v), max(u, v)
        if a == b:
            continue
        if (a, b) not in best or w < best[(a, b)]:
            best[(a, b)] = w
    edges = sorted(
        (f"{w:019d}|{a}|{b}", a, b, w) for (a, b), w in best.items()
    )
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    out = set()
    for _, a, b, w in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
            out.add((a, b, w))
    return out


def test_msf_hand_graph_exact(spark):
    from kg.ops import minimum_spanning_forest

    # square a-b-c-d-a with a heavy diagonal; MSF drops the heaviest
    # cycle edge (d-a, w=9) and the diagonal (a-c, w=8)
    pairs = [
        ("a", "b", 1), ("b", "c", 2), ("c", "d", 3), ("d", "a", 9),
        ("a", "c", 8), ("x", "y", 5),
    ]
    e = spark.createDataFrame(pairs, "out_id string, in_id string, w long")
    got = {
        (r["u"], r["v"], r["w"])
        for r in minimum_spanning_forest(e, rounds=4).collect()
    }
    assert got == {("a", "b", 1), ("b", "c", 2), ("c", "d", 3), ("x", "y", 5)}


def test_msf_first_round_is_min_incident_edges(spark):
    from kg.ops import minimum_spanning_forest

    # path with strictly increasing weights: round 1 selects each
    # vertex's min incident edge; the chain contracts within the
    # min-propagation budget so round 2 finishes the forest
    pairs = [(f"n{i}", f"n{i+1}", 10 + i) for i in range(6)]
    e = spark.createDataFrame(pairs, "out_id string, in_id string, w long")
    rows = minimum_spanning_forest(e, rounds=4).collect()
    got = {(r["u"], r["v"], r["w"]): r["round"] for r in rows}
    assert set(got) == {(min(u, v), max(u, v), w) for u, v, w in pairs}
    # n0's min edge and every local minimum land in round 1
    assert got[("n0", "n1", 10)] == 1
    assert all(r >= 1 for r in got.values())


def test_msf_budget_degrades_to_subset_never_wrong(spark):
    from kg.ops import minimum_spanning_forest

    pairs = [(f"n{i}", f"n{i+1}", 10 + i) for i in range(12)]
    e = spark.createDataFrame(pairs, "out_id string, in_id string, w long")
    full = _kruskal(pairs)
    partial = {
        (r["u"], r["v"], r["w"])
        for r in minimum_spanning_forest(e, rounds=1, jumps=1).collect()
    }
    assert partial and partial.issubset(full)


def test_msf_random_battery_vs_kruskal(spark):
    import random

    from kg.ops import minimum_spanning_forest

    rng = random.Random(11)
    for _ in range(3):
        n = 12
        pairs = [
            (
                f"n{rng.randrange(n)}",
                f"n{rng.randrange(n)}",
                rng.randrange(1, 40),
            )
            for _ in range(30)
        ]
        e = spark.createDataFrame(
            pairs, "out_id string, in_id string, w long"
        )
        got = {
            (r["u"], r["v"], r["w"])
            for r in minimum_spanning_forest(e, rounds=6, jumps=3).collect()
        }
        assert got == _kruskal(pairs)


def test_msf_parallel_edges_and_loops_collapse(spark):
    from kg.ops import minimum_spanning_forest

    pairs = [
        ("a", "b", 5), ("b", "a", 2), ("a", "b", 7), ("a", "a", 1),
    ]
    e = spark.createDataFrame(pairs, "out_id string, in_id string, w long")
    got = {
        (r["u"], r["v"], r["w"])
        for r in minimum_spanning_forest(e, rounds=2).collect()
    }
    assert got == {("a", "b", 2)}


def test_msf_negative_weight_raises(spark):
    import pytest

    from kg.ops import minimum_spanning_forest

    e = spark.createDataFrame(
        [("a", "b", -3)], "out_id string, in_id string, w long"
    )
    with pytest.raises(Exception, match="non-negative"):
        minimum_spanning_forest(e, rounds=1).collect()


def test_msf_validates_args(spark):
    import pytest

    from kg.ops import minimum_spanning_forest

    e = spark.createDataFrame([("a", "b", 1)], "out_id string, in_id string, w long")
    with pytest.raises(ValueError, match="rounds"):
        minimum_spanning_forest(e, rounds=0)
    with pytest.raises(ValueError, match="jumps"):
        minimum_spanning_forest(e, jumps=0)


# ---------------------------------------------------------------------------
# topological layers (Kahn)
# ---------------------------------------------------------------------------
def test_toposort_diamond_cycle_and_isolated(spark):
    """Diamond layers 0/1/1/2; a 2-cycle and everything downstream of it
    report NULL (cycle detector); isolated vertices take layer 0."""
    from kg.ops.graph import topological_layers

    E = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"),
         ("x", "y"), ("y", "x"), ("x", "z")],
        "out_id string, in_id string",
    )
    V = spark.createDataFrame([("iso",)], "id string")
    got = {
        r["id"]: r["layer"]
        for r in topological_layers(E, rounds=10, vertices=V).collect()
    }
    assert got == {"a": 0, "b": 1, "c": 1, "d": 2,
                   "x": None, "y": None, "z": None, "iso": 0}


def test_toposort_budget_degrades_to_null_never_wrong(spark):
    from kg.ops.graph import topological_layers

    E = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "out_id string, in_id string"
    )
    got = {
        r["id"]: r["layer"]
        for r in topological_layers(E, rounds=2).collect()
    }
    assert got == {"a": 0, "b": 1, "c": None, "d": None}
    full = {
        r["id"]: r["layer"]
        for r in topological_layers(E, rounds=10).collect()
    }
    assert full == {"a": 0, "b": 1, "c": 2, "d": 3}


def test_toposort_chain_layers_equal_chain_positions(spark):
    """Disjoint per-key chains: Kahn layer == position in chain — the
    closed form the driver entry's oracle computes independently."""
    from kg.ops.graph import topological_layers

    rows = [(f"k{k}_{i}", f"k{k}_{i+1}") for k in range(3) for i in range(4)]
    E = spark.createDataFrame(rows, "out_id string, in_id string")
    got = {
        r["id"]: r["layer"]
        for r in topological_layers(E, rounds=10).collect()
    }
    assert got == {
        f"k{k}_{i}": i for k in range(3) for i in range(5)
    }


def test_toposort_validates(spark):
    from kg.ops.graph import topological_layers

    E = spark.createDataFrame([("a", "b")], "out_id string, in_id string")
    import pytest as _pt

    with _pt.raises(ValueError, match="rounds"):
        topological_layers(E, rounds=0)


def test_negative_samples_exact_cdf_and_determinism(spark):
    """Hand-checkable CDF: contexts {a: c=8, b: c=1} → damped weights
    w_a = floor((8^3)^(1/4)) = 4, w_b = 1, T = 5; intervals a=[0,4),
    b=[4,5); every draw md5_60(seed:center:context:j) % 5 maps
    accordingly."""
    import hashlib

    from kg.ops.graph import negative_samples

    rows = [("u", "a")] * 8 + [("u", "b")]
    pairs = spark.createDataFrame(rows, "center string, context string")
    got = negative_samples(pairs, k=2).collect()
    assert len(got) == len(rows) * 2

    def draw(center, context, j):
        key = f"kg-neg-v1:{center}:{context}:{j}"
        return int(hashlib.md5(key.encode()).hexdigest()[:15], 16) % 5

    for r in got:
        d = draw(r["center"], r["context"], r["neg_rank"])
        assert r["negative"] == ("a" if d < 4 else "b"), (r, d)
    # duplicate (center, context) rows share identical negatives
    a_rows = {(r["neg_rank"], r["negative"]) for r in got
              if r["context"] == "a"}
    assert len(a_rows) == 2
    # determinism across runs
    again = negative_samples(pairs, k=2).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))


def test_negative_samples_damped_frequency_and_validation(spark):
    from kg.ops.graph import negative_samples

    rows = [("u", "hot")] * 100 + [("u", f"cold{i}") for i in range(10)]
    pairs = spark.createDataFrame(rows, "center string, context string")
    got = negative_samples(pairs, k=5).collect()
    assert len(got) == len(rows) * 5
    freq = {}
    for r in got:
        freq[r["negative"]] = freq.get(r["negative"], 0) + 1
    # hot has w = floor(100^0.75) = 31 vs 1 per cold word: it must
    # dominate any single cold word, but damping caps its share well
    # below its 100/110 unigram share
    assert freq["hot"] > max(
        (v for w, v in freq.items() if w != "hot"), default=0
    )
    assert freq["hot"] / len(got) < 0.95
    with pytest.raises(ValueError, match="k must"):
        negative_samples(pairs, k=0)
    with pytest.raises(ValueError, match="not in pairs"):
        negative_samples(pairs, context_col="nope")


def test_rich_club_hand_values(spark):
    """K4 clique plus two pendant leaves: at k=2 the club is exactly
    the clique (phi = 1.0); at k=3 only vertices of degree > 3 — the
    two clique members holding a pendant — remain, sharing one edge."""
    from kg.ops.graph import rich_club

    clique = [("a", "b"), ("a", "c"), ("a", "d"),
              ("b", "c"), ("b", "d"), ("c", "d")]
    pendants = [("a", "x"), ("b", "y")]
    df = spark.createDataFrame(
        clique + pendants, "out_id string, in_id string"
    )
    got = {r["k"]: (r["n_nodes"], r["n_edges"], r["phi"])
           for r in rich_club(df, ks=(2, 3, 10)).collect()}
    # degrees: a=4, b=4, c=3, d=3, x=1, y=1
    assert got[2] == (4, 6, 1.0)          # the K4
    assert got[3] == (2, 1, 1.0)          # a-b
    assert got[10] == (0, 0, None)        # empty club -> NULL phi


def test_rich_club_validates(spark):
    import pytest as _pt

    from kg.ops.graph import rich_club

    df = spark.createDataFrame([("a", "b")], "out_id string, in_id string")
    with _pt.raises(ValueError, match="ks"):
        rich_club(df, ks=(2, 2))
