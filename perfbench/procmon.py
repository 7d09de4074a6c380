"""CPU time and resident memory of this process and all its descendants.

Read from ``/proc`` (no psutil).  The tree is the benchmark process, the
Spark JVM it launches and the Python daemon and workers the JVM forks.
CPU time of a process counts its own user and system time plus that of
the children it has reaped, so work of a worker that exited between two
snapshots is still counted, once, through its parent.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
INTERVAL_S = 0.2


def _stat(pid: int):
    """(ppid, cpu_s, rss_bytes) of one process, or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces: fields start after the last ')'
    fields = raw[raw.rindex(b")") + 2:].split()
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    rss_pages = int(fields[21])
    return ppid, (utime + stime + cutime + cstime) / _TICK, rss_pages * _PAGE


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under a directory."""
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
            files += 1
    return total, files


def tree_usage(root: int) -> tuple[float, int]:
    """(cpu seconds, resident bytes) summed over the tree."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    cpu = 0.0
    rss = 0
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid not in stats:
            continue
        _, c, r = stats[pid]
        cpu += c
        rss += r
        todo.extend(children.get(pid, ()))
    return cpu, rss


class ProcSampler:
    """One background thread sampling this process's tree every
    INTERVAL_S seconds; keeps the peak RSS.

    ``snapshot()`` reads the tree at once, for exact CPU deltas around a
    timed call.
    """

    def __init__(self):
        self.root = os.getpid()
        self.peak_rss = 0
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._loop, name="procmon", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.snapshot()
            self._stop.wait(INTERVAL_S)

    def snapshot(self) -> tuple[float, float]:
        """(wall time, tree cpu seconds) now; also updates the peak."""
        cpu, rss = tree_usage(self.root)
        with self._lock:
            self.peak_rss = max(self.peak_rss, rss)
        return time.perf_counter(), cpu

    def __enter__(self) -> "ProcSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
