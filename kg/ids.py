"""Deterministic id construction shared across stages.

Single definition of the mention-id recipe so the minting side
(``kg.link.stage.mentions_from_triples``) and the lookup side
(``kg.materialize.stage._resolved``) can never diverge: both must
apply the same surface truncation before hashing, or a long object surface
minted as ``sha2(kind:substr(obj))`` would be probed as ``sha2(kind:obj)``
and silently miss the entity_map join.

Ids are content-derived (sha256) — never ``monotonically_increasing_id`` —
because resume idempotency and the golden tests depend on byte-identical
ids across runs and cluster sizes (reference analogue: element ids are the
stable Neo4j ids, ``Migrator.cs:87,144``).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# surfaces longer than this are truncated before id minting + shingling
# (pathological inputs at web scale must not blow up the shingle explode)
MAX_SURFACE = 256


def truncated_surface(surface: Column) -> Column:
    return F.substring(surface, 1, MAX_SURFACE)


def mention_id(kind: Column, surface: Column) -> Column:
    """Canonical mention id for an entity surface of a given kind."""
    return F.sha2(
        F.concat_ws(":", kind, truncated_surface(surface)), 256
    )
