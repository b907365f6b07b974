"""``kg.session``'s host-derived defaults (pure functions, no Spark)."""

from __future__ import annotations

import os

from kg.session import default_driver_memory, host_memory_bytes

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
