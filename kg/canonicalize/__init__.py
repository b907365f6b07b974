from kg.canonicalize.cc import connected_components  # noqa: F401
from kg.canonicalize.stage import run_canonicalize  # noqa: F401
