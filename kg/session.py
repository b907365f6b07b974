"""SparkSession factory.

One JVM, ``local[N]`` in this sandbox; the conf profile is written for a
multi-executor cluster (AQE on, skew-join on, Arrow on) so the same code
ships unchanged via ``spark-submit --py-files``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# a container's memory limit (cgroup v2, then v1), which the physical
# memory sysconf reports does not reflect
_CGROUP_LIMITS = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)


def host_memory_bytes(limit_files: tuple[str, ...] = _CGROUP_LIMITS) -> int:
    """Memory this process may use: physical memory, or the smaller
    limit in ``limit_files``.  A file that is missing or reads ``max``
    sets no limit; cgroup v1's "unlimited" is a number above physical
    memory, so ``min`` ignores it."""
    mem = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    for path in limit_files:
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            mem = min(mem, int(raw))
    return mem


# Generated-code (Janino) classes the JVM keeps compiled, keyed on their
# source.  Spark's default of 100 is below the engine's working set, and
# an LRU cache cycled through by a larger working set misses on every
# access: on the benchmark's corpora (4-core host) every warm full_build
# op recompiled 73-74 classes and every incremental_update op 185, each
# then compiled again by the JIT.  At 1000 a warm op of either
# workload compiles none once an op of its shape has run.  A static
# conf: it sizes the cache the first time the JVM generates code, so
# extra_conf overrides it only for the JVM's first session.
CODEGEN_CACHE_ENTRIES = 1000


def default_driver_memory(mem_bytes: int) -> str:
    """Driver heap default for a host with ``mem_bytes`` of usable memory
    (``host_memory_bytes``): half of it, capped at 48g.  A fixed 48g let
    G1 grow the heap past what a small host has before it collected, and
    the kernel then killed the JVM."""
    return f"{min(mem_bytes // 2, 48 << 30) >> 20}m"


def get_spark(
    app_name: str = "kg",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this workload.

    ``cores`` controls local parallelism (``local[cores]``); defaults to
    ``$SPARK_GRAFT_CPUS`` or ``*``.  On a real cluster the master is set by
    spark-submit and this falls through untouched.  The driver heap is
    ``$KG_DRIVER_MEM`` or ``default_driver_memory`` of this host.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
    else:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        # same empty-string-is-unset contract as the master line above
        # (and kg.conf._env_int): `SPARK_GRAFT_CPUS= cmd` must not raise
        raw = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(raw) if raw else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # CPU-heavy Python stages sit right on top of file scans; the
        # default 128 MB split would give far fewer tasks than cores on
        # medium tables. Splits are sized on COMPRESSED bytes and Spark
        # bin-packs small files up to this limit, so with zstd's ~10x
        # ratio on text a 16 MB split already carries ~160 MB of raw
        # content — an 800k-file corpus collapsed to ~8 splits and
        # starved local[16] (measured: extract 2x slower, materialize
        # flat across core counts). 4 MB keeps every core fed at bench
        # scale; on a 100 TB cluster raise KG_SPLIT_BYTES — the knob
        # trades scheduler overhead vs per-task Python work.
        .config("spark.sql.files.maxPartitionBytes", os.environ.get("KG_SPLIT_BYTES", "4m"))
        # Spark charges every file an open cost (default 4 MB) when it
        # packs splits, so at the default each ~20 KB file of a 64-bucket
        # warehouse table filled a whole split: one task per bucket dir
        # on every scan.  A 64 KB open cost packs such a table into 1-2
        # splits.  The split size is min(maxPartitionBytes, max(open
        # cost, total bytes / minPartitionNum)); minPartitionNum=1 keeps
        # an input under the split size in ONE split, as at the default
        # (else a small single-row-group source is cut into per-core
        # splits, all but one empty, that still start Python workers),
        # and inputs of a split or more still split at maxPartitionBytes.
        .config("spark.sql.files.openCostInBytes", "64k")
        .config("spark.sql.files.minPartitionNum", "1")
        .config("spark.sql.session.timeZone", "UTC")
        # partition discovery of the 64-bucket warehouse tables: the
        # default threshold (32 dirs) pushes listing into a distributed
        # Spark job — four ~0.4 s jobs per pipeline run just to list 64
        # LOCAL directories the driver stats in microseconds.  Raised so
        # local-FS listing stays driver-side; on a real object store
        # (where parallel listing earns its cost) deployments lower it
        # back via extra_conf.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "128")
        # zstd for shuffle/spill blocks and parquet output: more CPU per
        # byte but far fewer bytes — compression CPU parallelizes across
        # cores while memory/disk bandwidth does not, so trading bandwidth
        # for compute is exactly what a bandwidth-bound stage needs to
        # scale (and on a real cluster it cuts network shuffle too);
        # a deployment that wants another codec passes extra_conf
        .config("spark.io.compression.codec", "zstd")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("KG_DRIVER_MEM")
            or default_driver_memory(host_memory_bytes()),
        )
    )
    # Only pin the master when none is set (spark-submit / cluster launch
    # defines spark.master as a system property → visible in SparkConf).
    # NB: checking SPARK_SUBMIT_OPTS is WRONG — this container exports it
    # globally for ivy config, which silently turned every local[N]
    # request into local[*].
    from pyspark import SparkConf

    if not SparkConf().contains("spark.master") and not os.environ.get("SPARK_MASTER"):
        builder = builder.master(master)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # plan-shape guard for every HOF-array explode in the library
    # (see the helper's docstring for the measured O(L²) failure mode)
    from kg.hints import exclude_generate_filter_inference

    exclude_generate_filter_inference(spark)
    return spark
