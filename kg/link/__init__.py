from kg.link.stage import (  # noqa: F401
    add_shingles,
    candidate_pairs,
    driver_match_pairs,
    match_pairs,
    mentions_from_triples,
    run_link,
    score_pairs,
    scorer_broadcasts,
)
