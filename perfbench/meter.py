"""Process-tree meter read from ``/proc``: CPU seconds split by role
(driver Python, JVM, ``pyspark.daemon`` Python workers), summed resident
memory sampled on a background thread, and host CPU steal.

CPU is read as utime + stime + cutime + cstime of every process in the
tree, so a worker that exits between two readings is still counted once
its parent has reaped it: its time moves into the parent's c-fields.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_stat(pid: int) -> tuple[str, int, int, int] | None:
    """(comm, ppid, cpu ticks incl. reaped children, rss pages)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("latin-1")
    except OSError:
        return None
    # comm is parenthesised and may contain spaces: split after the last ')'
    lp, rp = raw.index("("), raw.rindex(")")
    comm = raw[lp + 1 : rp]
    rest = raw[rp + 2 :].split()
    ppid = int(rest[1])
    ticks = sum(int(x) for x in rest[11:15])  # utime stime cutime cstime
    rss = int(rest[21])
    return comm, ppid, ticks, rss


def _role(pid: int, root: int, comm: str) -> str:
    if pid == root:
        return "driver"
    if comm == "java":
        return "jvm"
    return "python"


def process_tree(root: int) -> dict[int, tuple[str, int, int]]:
    """pid -> (role, cpu ticks, rss pages) for ``root`` and every
    descendant."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (_, ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            comm, _, ticks, rss = stats[pid]
            out[pid] = (_role(pid, root, comm), ticks, rss)
            todo.extend(children.get(pid, []))
    return out


@dataclass(frozen=True)
class CpuReading:
    """Cumulative CPU seconds by role plus host /proc/stat counters."""

    by_role: dict[str, float]
    host_steal: int
    host_total: int
    at: float

    def minus(self, earlier: CpuReading) -> CpuDelta:
        roles = set(self.by_role) | set(earlier.by_role)
        d = {r: self.by_role.get(r, 0.0) - earlier.by_role.get(r, 0.0)
             for r in roles}
        total = self.host_total - earlier.host_total
        steal = self.host_steal - earlier.host_steal
        return CpuDelta(d, 100.0 * steal / total if total else 0.0,
                        self.at - earlier.at)


@dataclass(frozen=True)
class CpuDelta:
    by_role: dict[str, float]
    steal_pct: float
    wall_s: float

    @property
    def total(self) -> float:
        return sum(self.by_role.values())

    def role(self, name: str) -> float:
        return self.by_role.get(name, 0.0)


def host_cpu_counters() -> tuple[int, int]:
    """(steal ticks, total ticks) of the host from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already inside user/nice
    return fields[7], sum(fields[:8])


class ProcTreeMeter:
    """Samples summed RSS of the process tree rooted at ``root`` every
    ``interval`` seconds on a daemon thread; ``cpu()`` reads CPU on
    demand. Use as a context manager so the thread is always joined."""

    def __init__(self, root: int | None = None, interval: float = 0.1):
        self.root = root if root is not None else os.getpid()
        self.interval = interval
        self.peak_rss_bytes = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(
            target=self._loop, name="proc-tree-meter", daemon=True
        )

    def __enter__(self) -> ProcTreeMeter:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample_rss()
            self._stop.wait(self.interval)

    def sample_rss(self) -> int:
        rss = sum(r for _, _, r in process_tree(self.root).values()) * _PAGE
        with self._lock:
            self.peak_rss_bytes = max(self.peak_rss_bytes, rss)
        return rss

    @property
    def peak_rss_mb(self) -> float:
        with self._lock:
            return self.peak_rss_bytes / 2**20

    def cpu(self) -> CpuReading:
        by_role: dict[str, float] = {}
        for role, ticks, _ in process_tree(self.root).values():
            by_role[role] = by_role.get(role, 0.0) + ticks / _TICK
        steal, total = host_cpu_counters()
        return CpuReading(by_role, steal, total, time.perf_counter())
