"""Canonicalize stage: matched mention pairs → entity_map.

entity_map covers *every* mention (matched components get the component's
min mention_id; singletons map to themselves), so downstream resolution is
a plain left join + coalesce.

One entry, one size decision: ``connected_components`` collects the match
edges (bounded at one past its threshold) and runs the driver union-find
when they fit, the star loop otherwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kg.canonicalize.cc import connected_components


def run_canonicalize(mentions: DataFrame, matches: DataFrame) -> DataFrame:
    """(mentions, matched pairs) → entity_map(mention_id, canonical_id).
    No ``distinct``: ``mention_id`` is unique per mentions row by
    construction (``mentions_from_triples`` hashes the distinct
    (kind, truncated surface))."""
    comp = connected_components(matches.select("a", "b"))
    return (
        mentions.select("mention_id")
        .join(comp, "mention_id", "left")
        .select(
            "mention_id",
            F.coalesce("canonical_id", "mention_id").alias("canonical_id"),
        )
    )
