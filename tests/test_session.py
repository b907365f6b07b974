"""``kg.session``: host-derived defaults (pure functions, no Spark) and
the in-process local filesystem it installs in the JVM it launches."""

from __future__ import annotations

import collections
import json
import logging
import os
import shutil

import pytest
from pyspark.sql import functions as F

import kg.session
from kg.session import default_driver_memory, host_memory_bytes, local_fs_conf

GiB = 1 << 30


def test_driver_memory_is_half_of_physical_memory():
    assert default_driver_memory(15 * GiB) == "7680m"
    assert default_driver_memory(4 * GiB) == "2048m"


def test_driver_memory_is_capped_at_48g():
    assert default_driver_memory(96 * GiB) == "49152m"
    assert default_driver_memory(512 * GiB) == "49152m"


def test_host_memory_is_capped_by_a_cgroup_limit(tmp_path):
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    unset = tmp_path / "memory.max"
    unset.write_text("max\n")
    unlimited_v1 = tmp_path / "memory.limit_in_bytes"
    unlimited_v1.write_text(f"{phys + GiB}\n")
    missing = str(tmp_path / "absent")
    assert host_memory_bytes(()) == phys
    assert host_memory_bytes((str(unset), str(unlimited_v1), missing)) == phys

    limited = tmp_path / "limited"
    limited.write_text(f"{phys // 4}\n")
    assert host_memory_bytes((missing, str(limited))) == phys // 4
    assert default_driver_memory(host_memory_bytes((str(limited),))) == (
        f"{min(phys // 8, 48 * GiB) >> 20}m"
    )


# the session compiles its local filesystem with the JDK's javac
needs_javac = pytest.mark.skipif(
    kg.session._javac() is None, reason="no JDK compiler"
)


@needs_javac
def test_session_local_filesystem_is_the_in_process_one(spark, monkeypatch):
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), spark.sparkContext._jsc.hadoopConfiguration()
    )
    assert fs.getClass().getName() == "kg.jvm.InProcessLocalFileSystem"
    assert (
        fs.getRawFileSystem().getClass().getName()
        == "kg.jvm.InProcessLocalFileSystem$Raw"
    )
    # the built jar is reused: no javac is needed once it exists
    jar = local_fs_conf()["spark.driver.extraClassPath"]
    monkeypatch.delenv("JAVA_HOME", raising=False)
    monkeypatch.setenv("PATH", "")
    assert local_fs_conf()["spark.driver.extraClassPath"] == jar
    assert jar in spark.conf.get("spark.driver.extraClassPath")


def _child_cpu_ticks(pid: int) -> int:
    """cutime + cstime: CPU of the children ``pid`` has reaped."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[13]) + int(fields[14])


@needs_javac
def test_bucketed_write_keeps_hadoop_modes_without_forking(spark, tmp_path):
    """A 64-bucket write gives files, .crc files and directories the
    modes Hadoop's default filesystem gives under its umask, and the JVM
    reaps no child process doing it (Hadoop's default forks a chmod per
    file and directory when the native hadoop library is absent)."""
    from kg.pipeline import _write

    jvm = spark._jvm
    pid = jvm.java.lang.ProcessHandle.current().pid()
    if not os.path.exists(f"/proc/{pid}/stat"):
        pytest.skip("no /proc")
    umask = jvm.org.apache.hadoop.fs.permission.FsPermission.getUMask(
        spark.sparkContext._jsc.hadoopConfiguration()
    ).toShort()
    df = spark.range(640).withColumn("b", (F.col("id") % 64).cast("int"))
    out = str(tmp_path / "t")
    before = _child_cpu_ticks(pid)
    _write(df, out, ["b"], buckets=64)
    assert _child_cpu_ticks(pid) == before

    modes = collections.Counter()
    for base, _, files in os.walk(out):
        modes["dir", os.stat(base).st_mode & 0o7777] += 1
        for f in files:
            kind = "crc" if f.endswith(".crc") else "file"
            modes[kind, os.stat(os.path.join(base, f)).st_mode & 0o7777] += 1
    assert modes == {
        ("dir", 0o777 & ~umask): 65,
        ("file", 0o666 & ~umask): 64,
        ("crc", 0o666 & ~umask): 64,
    }


def test_local_fs_conf_pins_hadoop_local_fs_without_javac(
    tmp_path, monkeypatch, caplog
):
    """No JDK compiler and no built jar: Hadoop's ``LocalFileSystem``
    pinned as ``fs.file.impl`` (not left to the service loader, which
    picks Hive's test filesystem), no jar on the classpath, and one
    ``local_fs_fallback`` event."""
    caplog.set_level(logging.INFO, logger="kg")
    src = os.path.join(kg.session._JVM_DIR, "InProcessLocalFileSystem.java")
    shutil.copy(src, tmp_path)
    monkeypatch.setattr(kg.session, "_JVM_DIR", str(tmp_path))
    monkeypatch.delenv("JAVA_HOME", raising=False)
    monkeypatch.setenv("PATH", "")
    assert local_fs_conf() == {
        "spark.hadoop.fs.file.impl": "org.apache.hadoop.fs.LocalFileSystem"
    }
    events = [json.loads(r.getMessage())["event"] for r in caplog.records
              if r.name == "kg"]
    assert events == ["local_fs_fallback"]
    assert os.listdir(tmp_path) == ["InProcessLocalFileSystem.java"]


@needs_javac
def test_local_fs_conf_pins_hadoop_local_fs_when_the_compile_fails(
    tmp_path, monkeypatch, caplog
):
    caplog.set_level(logging.INFO, logger="kg")
    (tmp_path / "InProcessLocalFileSystem.java").write_text("class {")
    monkeypatch.setattr(kg.session, "_JVM_DIR", str(tmp_path))
    assert local_fs_conf() == {
        "spark.hadoop.fs.file.impl": "org.apache.hadoop.fs.LocalFileSystem"
    }
    events = [json.loads(r.getMessage()) for r in caplog.records
              if r.name == "kg"]
    assert [e["event"] for e in events] == ["local_fs_fallback"]
    assert "error" in events[0]["reason"]  # javac's own message
    assert os.listdir(tmp_path / "__pycache__") == []
