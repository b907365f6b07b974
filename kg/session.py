"""SparkSession factory.

One JVM, ``local[N]`` in this sandbox; the conf profile is written for a
multi-executor cluster (AQE on, skew-join on, Arrow on) so the same code
ships unchanged via ``spark-submit --py-files``.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import subprocess
import tempfile
import zipfile

from pyspark.sql import SparkSession

from kg.log import log_event


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


# Hadoop's local filesystem sets the mode of every file and directory it
# creates (each parquet part, its .crc, each bucket and staging dir).
# Without the native hadoop library, which pyspark does not ship, each
# setPermission forks a chmod process: three warm full_build benchmark ops
# (seed 7, 4-core host) started 1,304-1,374 processes each, whose
# 1.49-1.53 CPU s per op the JVM paid as reaped children, on top of the
# forks themselves.  jvm/InProcessLocalFileSystem.java is the same
# checksummed filesystem with the mode set in-process: 47-126 processes,
# 0.00 child CPU s and 3.2-4.9 s less JVM CPU per op, the same files,
# checksums and modes.  It is compiled once per source and Hadoop version
# with the JDK's javac (~1.5 s) into jvm/__pycache__, which git and
# scripts/make_dist.py skip.  A host without javac gets Hadoop's own
# checksummed LocalFileSystem, pinned: left to the service loader,
# file:// resolves to Hive's test filesystem (ProxyLocalFileSystem, listed
# by hive-exec's META-INF/services ahead of hadoop-client-api's entry).
_JVM_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm")
_LOCAL_FS = "kg.jvm.InProcessLocalFileSystem"
_HADOOP_LOCAL_FS = "org.apache.hadoop.fs.LocalFileSystem"


def _javac() -> str | None:
    home = os.environ.get("JAVA_HOME")
    javac = home and os.path.join(home, "bin", "javac")
    if javac and os.access(javac, os.X_OK):
        return javac
    return shutil.which("javac")


def local_fs_conf() -> dict[str, str]:
    """Spark conf that installs ``_LOCAL_FS`` as the ``file://``
    filesystem of a JVM about to be launched: its jar (built on first use)
    on the driver classpath, and ``fs.file.impl``.  When the jar cannot
    be built, one ``local_fs_fallback`` event and ``fs.file.impl`` alone,
    set to Hadoop's ``LocalFileSystem``."""
    from pyspark.find_spark_home import _find_spark_home

    name = _LOCAL_FS.rsplit(".", 1)[1]
    src = os.path.join(_JVM_DIR, name + ".java")
    cache = os.path.join(_JVM_DIR, "__pycache__")
    hadoop = glob.glob(
        os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar")
    )
    try:
        # keyed on the source and the Hadoop version compiled against
        with open(src, "rb") as f:
            key = hashlib.sha256(f.read())
        key.update("".join(map(os.path.basename, hadoop)).encode())
        jar = os.path.join(cache, f"{name}-{key.hexdigest()[:16]}.jar")
        if not os.path.exists(jar):
            javac = _javac()
            if javac is None or not hadoop:
                raise FileNotFoundError("no javac or no hadoop-client-api jar")
            os.makedirs(cache, exist_ok=True)
            # built under a temp name and renamed into place: a session
            # starting concurrently never reads a half-written jar
            with tempfile.TemporaryDirectory(dir=cache) as tmp:
                subprocess.run(
                    [javac, "--release", "17", "-nowarn", "-cp", hadoop[0],
                     "-d", tmp, src],
                    check=True, capture_output=True, text=True, timeout=300,
                )
                with zipfile.ZipFile(os.path.join(tmp, "jar"), "w") as z:
                    for c in glob.glob(os.path.join(tmp, "**", "*.class"),
                                       recursive=True):
                        z.write(c, os.path.relpath(c, tmp))
                os.replace(os.path.join(tmp, "jar"), jar)
    except (OSError, subprocess.SubprocessError) as e:
        log_event("local_fs_fallback",
                  reason=(getattr(e, "stderr", None) or str(e))[-500:])
        return {"spark.hadoop.fs.file.impl": _HADOOP_LOCAL_FS}
    return {
        "spark.driver.extraClassPath": jar,
        "spark.hadoop.fs.file.impl": _LOCAL_FS,
    }


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
    from pyspark import SparkConf, SparkContext

    conf = dict(extra_conf or {})
    if not SparkConf().contains("spark.master") and not os.environ.get("SPARK_MASTER"):
        builder = builder.master(master)
        # a local JVM this call launches (not one running already, nor
        # one whose gateway a launcher passed in) gets the in-process
        # local filesystem; extra_conf still wins, and its classpath is
        # kept after the jar
        if SparkContext._gateway is None and not os.environ.get("PYSPARK_GATEWAY_PORT"):
            fs = local_fs_conf()
            cp = "spark.driver.extraClassPath"
            if fs.get(cp):
                fs[cp] = os.pathsep.join(filter(None, (fs[cp], conf.pop(cp, None))))
            conf = {**fs, **conf}
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # plan-shape guard for every HOF-array explode in the library
    # (see the helper's docstring for the measured O(L²) failure mode)
    from kg.hints import exclude_generate_filter_inference

    exclude_generate_filter_inference(spark)
    return spark
