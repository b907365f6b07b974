from kg.materialize.documents import (  # noqa: F401
    as_graphson_edges,
    denormalize_endpoints,
    edge_namespace,
    json_array,
    rename_reserved_keys,
)
from kg.materialize.driver import driver_materialize  # noqa: F401
from kg.materialize.stage import materialize_tables, run_materialize  # noqa: F401
