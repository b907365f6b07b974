from kg.link.stage import (  # noqa: F401
    add_shingles,
    candidate_pairs,
    match_pairs,
    mentions_from_triples,
    score_pairs,
)
