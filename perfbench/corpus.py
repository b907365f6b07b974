"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size, runs in the
benchmark's own process, and hands the program nothing but a parquet
file in the ``source_files`` schema (repo, path, commit, lang, content).
The expected outputs the checks compare against come from the same
generators, never from the program under test.
"""

from __future__ import annotations

import hashlib
import random
import re
import string

import pyarrow as pa
import pyarrow.parquet as pq

from kg.datagen import MODULES, expected_triples, make_file

SOURCE_COLUMNS = ("repo", "path", "commit", "lang", "content")

# full_build corpora of different seeds use disjoint kg.datagen index
# ranges, so no two seeds share a file
SEED_STRIDE = 1_000_000


def write_source(rows: list[dict], path: str) -> None:
    """Stage generated rows as the parquet input the program reads."""
    table = pa.table({c: [r[c] for r in rows] for c in SOURCE_COLUMNS})
    pq.write_table(table, path)


def sha256_hex(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


# -- kg.datagen corpora (full_build and incremental_update) -----------------


def datagen_indices(seed: int, n_files: int) -> range:
    return range(seed * SEED_STRIDE, seed * SEED_STRIDE + n_files)


def datagen_rows(seed: int, n_files: int) -> list[dict]:
    return [make_file(i) for i in datagen_indices(seed, n_files)]


def triple_key(t: dict) -> tuple:
    return (
        t["subj"], t["pred"], t["obj"], t["repo"], t["path"], t["commit"],
        t["lang"], t["content_sha"],
    )


def expected_sample(seed: int, n_files: int, n_sample: int) -> dict[tuple, set]:
    """Golden triples of ``n_sample`` evenly spaced files, keyed by
    (repo, path)."""
    idx = datagen_indices(seed, n_files)
    step = max(1, len(idx) // n_sample)
    out: dict[tuple, set] = {}
    for i in idx[::step][:n_sample]:
        trips = expected_triples(i)
        out[(trips[0]["repo"], trips[0]["path"])] = {triple_key(t) for t in trips}
    return out


# -- incremental_update: snapshot B = A with ~1% of files edited -------------

_IMPORT_LINE = re.compile(r"^(import |using ).*$", re.M)


def edit_snapshot(
    rows: list[dict], seed: int, fraction: float
) -> tuple[list[dict], int]:
    """Snapshot B: a uniform random ``fraction`` of A's files edited so
    their import triples change — every other edited file gains an
    import line, the rest lose their first one.  Returns (B, n_edited)."""
    rng = random.Random(f"edit:{seed}")
    n_edit = max(1, round(len(rows) * fraction))
    edited = sorted(rng.sample(range(len(rows)), n_edit))
    out = list(rows)
    for k, i in enumerate(edited):
        row = dict(rows[i])
        first = _IMPORT_LINE.search(row["content"])
        line = first.group(0)
        if k % 2 == 0:
            # same import syntax, a module the file may not import yet
            module = MODULES[rng.randrange(len(MODULES))]
            new = re.sub(r"[\w.]+(?=[';]*$)", module, line, count=1)
            content = (row["content"][: first.end()] + "\n" + new
                       + row["content"][first.end():])
        else:
            content = row["content"][: first.start()] + row["content"][first.end() + 1:]
        row["content"] = content
        out[i] = row
    return out, n_edit


# -- planted entity clusters: the open vocabulary of full_build ---------------

_LANG_IMPORT = {
    "python": ("py", "import {m}"),
    "java": ("java", "import {m};"),
    "cs": ("cs", "using {m};"),
    "js": ("js", "import x{j} from '{m}';"),
}
# every CHAIN_EVERY-th cluster is a sliding-window chain of CHAIN_LEN
# surfaces: neighbours overlap strongly, the ends barely, so the cluster is
# only connected through its middle (a multi-round case for star CC)
CHAIN_EVERY = 10
CHAIN_LEN = 5
_BASE_LEN = 11


def _random_word(rng: random.Random, n: int) -> str:
    return "".join(rng.choice(string.ascii_lowercase) for _ in range(n))


def entity_clusters(seed: int, n_clusters: int) -> list[list[str]]:
    """Planted entity clusters: each is one real entity's surfaces.

    Plain clusters hold a base name, its case variant and either a suffix
    (``base_py``) or a qualifier (``ext.base``) variant; chain clusters
    are CHAIN_LEN overlapping windows of one longer word.  Base names are
    random letters, so surfaces of different clusters share ~no 3-gram.
    """
    rng = random.Random(f"entities:{seed}")
    clusters: list[list[str]] = []
    seen: set[str] = set()
    while len(clusters) < n_clusters:
        c = len(clusters)
        if c % CHAIN_EVERY == CHAIN_EVERY - 1:
            word = _random_word(rng, _BASE_LEN + CHAIN_LEN - 1)
            surfaces = [word[j:j + _BASE_LEN] for j in range(CHAIN_LEN)]
        else:
            base = _random_word(rng, _BASE_LEN)
            third = f"{base}_py" if c % 2 else f"ext.{base}"
            surfaces = [base, base.capitalize(), third]
        if any(s.lower() in seen for s in surfaces):
            continue
        seen.update(s.lower() for s in surfaces)
        clusters.append(surfaces)
    return clusters


def entity_rows(
    seed: int, clusters: list[list[str]], imports_per_file: int
) -> list[dict]:
    """Short files, each importing ``imports_per_file`` surfaces; every
    planted surface is imported by exactly one file."""
    rng = random.Random(f"entity-files:{seed}")
    surfaces = [s for c in clusters for s in c]
    rng.shuffle(surfaces)
    langs = list(_LANG_IMPORT)
    rows = []
    for f, lo in enumerate(range(0, len(surfaces), imports_per_file)):
        lang = langs[f % len(langs)]
        ext, fmt = _LANG_IMPORT[lang]
        body = "\n".join(
            fmt.format(m=m, j=j)
            for j, m in enumerate(surfaces[lo:lo + imports_per_file])
        )
        repo = f"ent{seed}/repo{f % 23}"
        path = f"src/m{f}.{ext}"
        rows.append({
            "repo": repo,
            "path": path,
            "commit": sha256_hex(f"{repo}:{path}")[:40],
            "lang": lang,
            "content": body + "\n",
        })
    return rows
