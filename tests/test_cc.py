"""Connected-components unit tests (large-star/small-star loop)."""

from __future__ import annotations

from kg.canonicalize import connected_components


def _components(spark, edges):
    df = spark.createDataFrame(edges, "a string, b string")
    out = connected_components(df)
    return {r.mention_id: r.canonical_id for r in out.collect()}


def test_two_triangles(spark):
    m = _components(
        spark,
        [("b", "a"), ("c", "b"), ("a", "c"), ("e", "d"), ("f", "e")],
    )
    assert m == {
        "a": "a", "b": "a", "c": "a",
        "d": "d", "e": "d", "f": "d",
    }


def test_long_chain_needs_multiple_rounds(spark):
    """Path graph of 12 nodes — diameter 11, forces >3 star rounds."""
    chain = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(11)]
    m = _components(spark, chain)
    assert set(m.values()) == {"n00"}
    assert len(m) == 12


def test_self_loops_and_duplicates_ignored(spark):
    m = _components(spark, [("a", "a"), ("a", "b"), ("b", "a"), ("a", "b")])
    assert m == {"a": "a", "b": "a"}


def test_canonical_is_min_id(spark):
    m = _components(spark, [("z", "q"), ("q", "m"), ("x", "z")])
    assert set(m.values()) == {"m"}


def test_driver_fast_path_equals_star_loop(spark):
    """The evidence-gated driver union-find and the distributed star
    loop are two physical strategies behind ONE contract: identical
    (mention_id, canonical_id) rows on an adversarial mix (chains,
    triangle, star, singleton-free edge soup).  Neither deduplicates its
    input first, so the mix carries duplicate and reversed edges and
    self-loops (one on a node with no other edge, which maps nowhere)."""
    edges = (
        [(f"n{i}", f"n{i+1}") for i in range(0, 40, 1)]          # long chain
        + [("t1", "t2"), ("t2", "t3"), ("t3", "t1")]              # triangle
        + [("hub", f"leaf{i}") for i in range(25)]                # star
        + [("zz9", "aa0"), ("mm5", "zz9")]                        # min at end
        + [("n7", "n8"), ("n7", "n8"), ("t2", "t1"), ("aa0", "zz9")]  # dups
        + [("hub", "hub"), ("n3", "n3"), ("solo", "solo")]        # self-loops
    )
    df = spark.createDataFrame(edges, "a string, b string")
    fast = connected_components(df)  # default threshold → driver path
    loop = connected_components(df, driver_threshold=0)  # force star loop
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, loop.collect()))
    assert fast.filter("mention_id = 'solo'").count() == 0
