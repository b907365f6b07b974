"""Link's two paths through its one entry, ``match_pairs``: the driver
path (taken at these sizes) against the Spark plan (taken with
``kg.hints.DEFAULT_MAX_BYTES`` patched to 0) — exactly equal rows,
floats compared bit for bit — and the entity_map ``run_canonicalize``
builds from each."""

from __future__ import annotations

import json
import logging
import random
import string

import pytest

from kg import hints
from kg.canonicalize import run_canonicalize
from kg.conf import PipelineConfig
from kg.datagen import golden_triples
from kg.link import match_pairs, mentions_from_triples
from kg.link.stage import _MAX_BUCKET
from kg.pipeline import _write

CFG = PipelineConfig()


def _planted(seed: int, n: int) -> list[str]:
    """Variant surfaces of random base names: case, ``_py`` suffix,
    ``ext.`` qualifier, and a sliding-window chain every fifth base."""
    rng = random.Random(seed)
    out = []
    for c in range(n):
        base = "".join(rng.choice(string.ascii_lowercase) for _ in range(14))
        if c % 5 == 4:
            out += [base[j:j + 10] for j in range(5)]
        else:
            out += [base, base.capitalize(), f"{base}_py", f"ext.{base}"]
    return out


def _capped_bucket() -> list[str]:
    """``_MAX_BUCKET + 6`` distinct surfaces with one ``norm`` (case
    variants of one word): equal shingles, so every band puts them all in
    one over-cap bucket."""
    word = "overcapword"
    return [
        "".join(ch.upper() if (i >> k) & 1 else ch for k, ch in enumerate(word))
        for i in range(_MAX_BUCKET + 6)
    ]


# (pred, obj) rows per vocabulary; mentions come from mentions_from_triples
VOCABS = {
    "corpus": [
        *(
            (p, o)
            for p, o in golden_triples(200)[["pred", "obj"]].itertuples(
                index=False
            )
        ),
        *(("imports-of", s) for s in _planted(5, 20)),
    ],
    "edge_cases": [
        *(("imports-of", s) for s in _capped_bucket()),
        # one surface as both kinds, with same-kind partners
        ("imports-of", "serializer"), ("extends", "serializer"),
        ("imports-of", "Serializer_py"), ("extends", "Serializer"),
        # empty-norm surfaces
        ("imports-of", "__"), ("imports-of", "--"), ("extends", "::"),
    ],
    "no_pairs": [("imports-of", "alpha"), ("extends", "alpha")],
}


def _mentions(spark, vocab):
    rows = VOCABS[vocab]
    return mentions_from_triples(
        spark.createDataFrame(rows, "pred string, obj string"), CFG
    ).localCheckpoint()


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _link_paths(caplog) -> list[tuple]:
    """(path, mentions) of every ``link_path`` event logged so far."""
    events = (json.loads(r.getMessage()) for r in caplog.records
              if r.name == "kg")
    return [(e["path"], e["mentions"]) for e in events
            if e["event"] == "link_path"]


@pytest.mark.parametrize("vocab", sorted(VOCABS))
def test_driver_link_and_canonicalize_equal_spark(
    spark, vocab, tmp_path, monkeypatch, caplog
):
    caplog.set_level(logging.INFO, logger="kg")
    mentions = _mentions(spark, vocab)
    driver_matches = match_pairs(mentions, CFG)
    monkeypatch.setattr(hints, "DEFAULT_MAX_BYTES", 0)
    spark_matches = match_pairs(mentions, CFG).localCheckpoint()
    assert _link_paths(caplog) == [
        ("driver", mentions.count()), ("spark", None)
    ]
    # exact tuple equality: the floats are compared bit for bit
    assert _rows(driver_matches) == _rows(spark_matches)
    # the written tables have the same columns and types, rows or none
    for name, df in (("spark", spark_matches), ("driver", driver_matches)):
        _write(df, str(tmp_path / name))
    written = [spark.read.parquet(str(tmp_path / n)) for n in ("spark", "driver")]
    assert written[0].schema == written[1].schema
    assert _rows(run_canonicalize(mentions, written[1])) == _rows(
        run_canonicalize(mentions, written[0])
    )

    ids = {(r.surface, r.kind): r.mention_id for r in mentions.collect()}
    pairs = {(r.a, r.b) for r in driver_matches.collect()}
    linked = {x for p in pairs for x in p}
    kind = {m: k for (_, k), m in ids.items()}
    assert all(kind[a] == kind[b] for a, b in pairs)
    if vocab == "corpus":
        assert len(pairs) > 50
    elif vocab == "edge_cases":
        # the over-cap bucket is dropped: its members pair with nothing
        capped = {ids[s, "module"] for s in _capped_bucket()}
        assert not capped & linked
        assert (
            tuple(sorted((ids["serializer", "module"],
                          ids["Serializer_py", "module"]))) in pairs
        )
        assert (
            tuple(sorted((ids["serializer", "class"],
                          ids["Serializer", "class"]))) in pairs
        )
        assert tuple(sorted((ids["__", "module"], ids["--", "module"]))) in pairs
    else:
        assert not pairs


def test_driver_entity_map_equals_pinned_golden(spark, tmp_path):
    """Link (its driver path) and canonicalize over the 200-file
    corpus's mentions reproduce the pinned entity_map (the extractor's
    triples equal ``golden_triples(200)``: ``tests/test_goldens_pinned.py``)."""
    import os

    import pandas as pd

    mentions = mentions_from_triples(
        spark.createDataFrame(
            golden_triples(200)[["pred", "obj"]], "pred string, obj string"
        ),
        CFG,
    ).localCheckpoint()
    _write(match_pairs(mentions, CFG), str(tmp_path / "matches"))
    matches = spark.read.parquet(str(tmp_path / "matches"))
    pinned = pd.read_parquet(
        os.path.join(
            os.path.dirname(__file__), "goldens", "golden_entity_map_200.parquet"
        )
    )
    assert sorted(pinned.itertuples(index=False, name=None)) == _rows(
        run_canonicalize(mentions, matches)
    )
