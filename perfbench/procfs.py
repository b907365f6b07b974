"""Resident memory and CPU time of the Spark JVM and its Python workers,
read from /proc.

The JVM is a child of this (driver) process and the Python workers are
its descendants, so the sampler sums the resident memory of every
descendant of the driver — not the driver itself, which holds the
benchmark's generated inputs.  Sampling runs in a daemon thread only
while ``active`` is set, i.e. during timed ops.

CPU time is charged to the driver too: it plans every query over py4j,
and parts of the program (the lineage store, the union-find path of
canonicalize) run in it.  ``program_cpu_seconds`` leaves out the
sampler thread's own CPU time (``PeakRss.cpu_s``).

``tag_run`` marks the environment every process of the run inherits, and
``stop_run`` ends the JVM and whatever of the run is left, waiting for
each, so that no process outlives the benchmark.
"""

from __future__ import annotations

import os
import resource
import signal
import subprocess
import threading
import time

RUN_TAG = "PERFBENCH_RUN"

_PAGE = os.sysconf("SC_PAGE_SIZE")
_HZ = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _resident(pid: int, jvm: int, jvm_exe: str) -> int:
    """Resident bytes of one process.  Python workers are forked from a
    daemon and share most pages with it, so they are charged their
    proportional share (Pss); the JVM shares nothing and its page table
    is large, so its plain resident size is read instead.  Any other
    process still running the JVM's executable is a child the JVM spawned
    (a Python daemon, a Hadoop shell command) before its exec: it shares
    the JVM's pages — all of them, when vforked — and is not charged.  Its
    ``comm`` is the name of the JVM thread that spawned it, so only the
    executable tells it apart."""
    if pid == jvm:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    if os.readlink(f"/proc/{pid}/exe") == jvm_exe:
        return 0
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def rss_bytes(pids: list[int]) -> int:
    """Summed resident bytes of ``descendants(driver)``; its first entry
    is the driver's direct child, the JVM."""
    try:
        jvm_exe = os.readlink(f"/proc/{pids[0]}/exe")
    except (IndexError, OSError):
        return 0
    total = 0
    for p in pids:
        try:
            total += _resident(p, pids[0], jvm_exe)
        except OSError:
            pass  # the process ended between scan and read
    return total


def cpu_seconds(pids: list[int]) -> float:
    """User + system CPU seconds of ``pids`` and of their reaped children
    (workers that exited).  Time a busy host steals from this machine is
    not charged to a process, so this moves far less than wall time when
    other tenants load the host."""
    ticks = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended between scan and read
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / _HZ


def program_cpu_seconds(sampler: "PeakRss") -> float:
    """CPU seconds used so far by the program: the driver's descendants
    (the JVM and its Python workers) and every thread of the driver but
    ``sampler``'s."""
    ru = resource.getrusage(resource.RUSAGE_SELF)
    return (cpu_seconds(descendants(os.getpid())) + ru.ru_utime + ru.ru_stime
            - sampler.cpu_s)


def tag_run() -> bytes:
    """Sets ``RUN_TAG`` to a value unique to this run in the environment
    that the JVM, and through it every Python worker, inherits; returns
    the ``NAME=value`` entry ``stop_run`` looks for.  The value ends in a
    dot, so no other run's value starts with it."""
    os.environ[RUN_TAG] = f"{os.getpid()}.{time.time_ns()}."
    return f"{RUN_TAG}={os.environ[RUN_TAG]}".encode()


def tagged(entry: bytes = RUN_TAG.encode() + b"=") -> list[int]:
    """Live processes other than this one with an environment entry that
    starts with ``entry``: by default, those of any run.  A process that
    has ended (a zombie) has no environment left and is not listed."""
    me, out = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == me:
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as f:
                env = f.read()
        except OSError:
            continue  # ended, or not ours
        if any(e.startswith(entry) for e in env.split(b"\0")):
            out.append(int(name))
    return out


def stop_run(proc: subprocess.Popen | None, entry: bytes,
             timeout_s: float = 60.0) -> bool:
    """Ends the Spark JVM ``proc`` and every other process of the run, and
    waits for each to end.  The JVM exits by itself once its stdin closes
    (pyspark's gateway watches it); one still running after ``timeout_s``
    is killed, and so is any process of the run, found by ``entry``, that
    outlives it — a Python worker orphaned by the JVM's exit, say.
    Returns False if a process was still there at the deadline."""
    if proc is not None:
        try:
            if proc.stdin is not None:
                proc.stdin.close()
        except OSError:
            pass  # the pipe is already broken: the JVM is going anyway
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout_s
    while left := tagged(entry):
        if time.monotonic() > deadline:
            return False
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass  # ended between scan and kill
        time.sleep(0.05)
    return True


class PeakRss:
    """Max over samples of the summed resident memory of the driver's
    descendants."""

    def __init__(self, interval_s: float = 0.05, rescan_every: int = 10):
        self.interval_s = interval_s
        self.rescan_every = rescan_every
        self.peak = 0
        self.cpu_s = 0.0  # CPU seconds the sampler thread has used
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        me, pids, n = os.getpid(), [], 0
        while not self._stop.is_set():
            if self.active.wait(self.interval_s):
                if n % self.rescan_every == 0:
                    pids = descendants(me)
                n += 1
                self.peak = max(self.peak, rss_bytes(pids))
                self.cpu_s = time.thread_time()
                self._stop.wait(self.interval_s)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20
