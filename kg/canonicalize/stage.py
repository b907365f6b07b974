"""Canonicalize stage: matched mention pairs → entity_map.

entity_map covers *every* mention (matched components get the component's
min mention_id; singletons map to themselves), so downstream resolution is
a plain left join + coalesce.

Two regimes, one output, gated by the pipeline on the mention count as
link is (``kg.link.stage``): ``run_canonicalize`` plans it as Spark jobs
(``connected_components`` picks the driver union-find or the star loop on
the edge count); ``driver_canonicalize`` collects the pairs and the
mention ids once and runs the same union-find, ``_driver_cc``, directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kg.canonicalize.cc import _driver_cc, connected_components


def run_canonicalize(mentions: DataFrame, matches: DataFrame) -> DataFrame:
    """(mentions, matched pairs) → entity_map(mention_id, canonical_id)."""
    comp = connected_components(matches.select("a", "b"))
    return (
        mentions.select("mention_id")
        .distinct()
        .join(comp, "mention_id", "left")
        .select(
            "mention_id",
            F.coalesce("canonical_id", "mention_id").alias("canonical_id"),
        )
    )


def driver_canonicalize(mentions: DataFrame, matches: DataFrame) -> DataFrame:
    """``run_canonicalize`` computed on the driver: same rows, from two
    collects of vocabulary-sized tables and one union-find."""
    import pandas as pd

    pairs = matches.select("a", "b").toPandas()
    root = dict(_driver_cc(zip(pairs["a"], pairs["b"])))
    ids = sorted(set(mentions.select("mention_id").toPandas()["mention_id"]))
    emap = pd.DataFrame(
        {"mention_id": ids, "canonical_id": [root.get(m, m) for m in ids]}
    )
    return mentions.sparkSession.createDataFrame(
        emap, "mention_id string, canonical_id string"
    ).coalesce(1)
