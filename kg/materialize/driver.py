"""Driver regime of materialize: ``run_materialize``'s rows, computed
in plain Python over Arrow columns, for a ``triples`` table that fits
the driver budget (``kg.materialize.stage`` docstring).

Every column follows the Spark plan's expression for it: the
``kg.ids`` mention id over the truncated surface, ``coalesce`` to the
mention id when ``entity_map`` has no row, one group per node
``(id, label)``, ``json_array`` as Jackson writes it, the map key
order of ``_nodes`` after ``rename_reserved_keys``, the ``edge_`` id
recipe, and ``pk_bucket`` as ``kg.lineage.bucket_col`` of the
partition key (``bucket_of``, once per distinct value).
"""

from __future__ import annotations

import hashlib

import pyarrow as pa

from kg.ids import MAX_SURFACE
from kg.lineage import bucket_of
from kg.schemas import PREDICATES, RESERVED_PROPERTY_NAMES, TRIPLES

# the entity kind of an object, by predicate (``_resolved``)
_KINDS = {"imports-of": "module", "extends": "class",
          "calls-function": "function"}
_EDGE_PREDICATES = frozenset(PREDICATES)

# Jackson's escapes (Spark's to_json): the two-character forms for
# " \ and \n \t \r \b \f, \u00XX with uppercase hex for the other
# control characters, every other character as is
_JSON_ESCAPES = {c: f"\\u{c:04X}" for c in range(0x20)}
_JSON_ESCAPES.update({ord(c): "\\" + e for c, e in zip('"\\\n\t\r\b\f',
                                                        '"\\ntrbf')})


def _keys(*names: str) -> tuple[str, ...]:
    """Property map keys after ``rename_reserved_keys``."""
    return tuple(
        f"prop_{k}" if k in RESERVED_PROPERTY_NAMES else k for k in names
    )


_FILE_KEYS = _keys("id", "path", "commit", "lang", "content_sha", "imports")
_CLASS_KEYS = _keys("name", "file")
_ENTITY_KEYS = _keys("surfaces", "kind")

_NODES = pa.schema([
    ("id", pa.string()), ("label", pa.string()),
    ("partition_key", pa.string()),
    ("properties", pa.map_(pa.string(), pa.string())),
    ("pk_bucket", pa.int32()),
])
_EDGE_COLS = ("id", "label", "out_id", "in_id", "out_label", "in_label",
              "out_pk", "in_pk", "repo", "path", "commit", "lang",
              "content_sha")
_EDGES = pa.schema([*((c, pa.string()) for c in _EDGE_COLS),
                    ("pk_bucket", pa.int32())])


def _sha(s: str) -> str:
    return hashlib.sha256(s.encode()).hexdigest()


def _json_array(items) -> str:
    """``json_array``: sorted (code point order is UTF-8 byte order)."""
    return "[" + ",".join(
        '"' + s.translate(_JSON_ESCAPES) + '"' for s in sorted(items)
    ) + "]"


def driver_materialize(
    triples: pa.Table, entity_map: pa.Table, pk: str, n_buckets: int
) -> tuple[pa.Table, pa.Table]:
    """(nodes, edges) of ``triples`` (``kg.schemas.TRIPLES`` columns) and
    ``entity_map`` as Arrow tables with ``pk_bucket``: the rows
    ``run_materialize`` plans, bucketed as the pipeline buckets them."""
    canonical = dict(zip(entity_map["mention_id"].to_pylist(),
                         entity_map["canonical_id"].to_pylist()))
    cols = {f.name: triples[f.name].to_pylist() for f in TRIPLES}
    # (id, label) -> [pk, subj, name, path, commit, lang, content_sha, items]
    nodes: dict[tuple[str, str], list] = {}
    edges: list[tuple] = []
    subj_ids: dict[str, str] = {}
    for row in zip(*cols.values(), cols[pk]):
        subj, pred, obj, repo, path, commit, lang, sha, pk_val = row
        out_id = subj_ids.get(subj)
        if out_id is None:
            out_id = subj_ids[subj] = _sha(subj)
        is_file = subj.startswith("file:")
        if is_file:
            node = nodes.setdefault(
                (out_id, "file"),
                [pk_val, subj, None, path, commit, lang, sha, set()],
            )
            if pred == "imports-of":
                node[7].add(obj)
        kind = _KINDS.get(pred)
        if kind is not None:
            mention = _sha(f"{kind}:{obj[:MAX_SURFACE]}")
            in_id = canonical.get(mention, mention)
            in_label, in_pk = kind, in_id[:2]
            nodes.setdefault(
                (in_id, kind), [in_pk, None, None, None, None, None, None, set()]
            )[7].add(obj)
        elif pred == "defines-class":
            in_id = _sha(f"class:{repo}:{path}:{obj}")
            in_label, in_pk = "class_def", pk_val
            nodes.setdefault(
                (in_id, "class_def"),
                [pk_val, subj, obj, None, None, None, None, set()],
            )
        if pred in _EDGE_PREDICATES:
            out_label = (
                "file" if is_file or pred == "defines-class" else "class_def"
            )
            edge_id = "edge_" + _sha(
                "|".join((out_id, pred, in_id, obj, repo, path))
            )
            edges.append((edge_id, pred, out_id, in_id, out_label, in_label,
                          pk_val, in_pk, repo, path, commit, lang, sha))

    buckets: dict[str, int] = {}

    def bucket(v: str) -> int:
        b = buckets.get(v)
        if b is None:
            b = buckets[v] = bucket_of(v, n_buckets)
        return b

    node_rows = []
    for (id_, label), (pk_val, subj, name, path, commit, lang, sha,
                       items) in nodes.items():
        if label == "file":
            props = zip(_FILE_KEYS, (subj, path, commit, lang, sha,
                                     _json_array(items)))
        elif label == "class_def":
            props = zip(_CLASS_KEYS, (name, subj))
        else:
            props = zip(_ENTITY_KEYS, (_json_array(items), label))
        node_rows.append({"id": id_, "label": label, "partition_key": pk_val,
                          "properties": list(props),
                          "pk_bucket": bucket(pk_val)})
    edge_cols = list(zip(*edges)) or [()] * len(_EDGE_COLS)
    return (
        pa.Table.from_pylist(node_rows, schema=_NODES),
        pa.table([*edge_cols, [bucket(v) for v in edge_cols[6]]],
                 schema=_EDGES),
    )
