"""Pipeline configuration.

Spark analogue of the reference's config surface: the 9 env vars resolved in
``NeoToCosmos/Neo4j.cs:32-48`` + ``NeoToCosmos/CosmosDb.cs:60-99`` and the 5
CLI flags in ``NeoToCosmos/CommandLineOptions.cs:8-26`` (``-r`` restart,
``-t``/``-i`` sharding, ``-p`` page size, ``-l`` log level).  Sharding and
page size dissolve into Spark parallelism knobs; paths survive here, and
restart as ``run_pipeline``'s ``restart`` argument (``--restart``).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field


def _env_int(name: str, default: int) -> int:
    raw = os.environ.get(name)
    return int(raw) if raw else default


@dataclass
class PipelineConfig:
    """Everything a pipeline run needs, resolvable from env + CLI."""

    # warehouse root for all managed tables (parquet-backed here; Iceberg
    # DDL for a jar-equipped cluster: kg.io.tables.sink_ddl_statements)
    warehouse: str = field(
        default_factory=lambda: os.environ.get("KG_WAREHOUSE", "/tmp/kg_warehouse")
    )
    # reference: COSMOSDB_PARTITIONKEY (CosmosDb.cs:88-90) — the single
    # user-chosen partition key threaded through the whole pipeline.
    partition_key: str = field(
        default_factory=lambda: os.environ.get("KG_PARTITION_KEY", "repo")
    )
    # parallelism knobs (replace the reference's -t/-i static range sharding,
    # Migrator.cs:50-62 — Spark's scheduler owns task splitting).
    shuffle_partitions: int = field(
        default_factory=lambda: _env_int("SPARK_GRAFT_CPUS", 32)
    )
    # number of lineage buckets a stage's work is split into; each bucket is
    # the resume granularity (analogue of the reference's page checkpoint,
    # Migrator.cs:80-81). Must be stable across runs for resume to work.
    lineage_buckets: int = 64
    # MinHash-LSH parameters (link stage)
    minhash_perms: int = 64
    lsh_bands: int = 16  # 16 bands x 4 rows
    shingle_size: int = 3
    jaccard_threshold: float = 0.5
    embedding_threshold: float = 0.85
    # extract execution path: "arrow" (pandas/Arrow UDF — the contract
    # surface, required for tree-sitter-style extractors) or "jvm" (the
    # equivalence-tested Catalyst regex twin, kg/extract/jvm.py)
    extract_engine: str = field(
        default_factory=lambda: os.environ.get("KG_EXTRACT_ENGINE", "arrow")
    )

    def __post_init__(self) -> None:
        if self.extract_engine not in ("arrow", "jvm"):
            raise ValueError(
                f"extract_engine must be 'arrow' or 'jvm', got "
                f"{self.extract_engine!r}"
            )
        if "://" in self.warehouse:
            # resume gating / restart truncation / footer stats use local
            # filesystem semantics (os.path.exists, shutil.rmtree, glob);
            # against an object-store URL those are SILENT no-ops —
            # --restart would quietly resume over stale data.  A remote
            # warehouse belongs behind the Iceberg catalog path
            # (kg.io.tables), not this parquet-dir layout.
            raise NotImplementedError(
                "remote warehouse paths are not supported by the parquet-dir "
                f"sink (got {self.warehouse!r}); use a local path, or an "
                "Iceberg catalog via kg.io.tables on a jar-equipped cluster"
            )

    def table_path(self, name: str) -> str:
        return os.path.join(self.warehouse, name)
