from kg.canonicalize.cc import connected_components  # noqa: F401
from kg.canonicalize.stage import (  # noqa: F401
    driver_canonicalize,
    run_canonicalize,
)
