"""CPU time and resident memory of a process tree, read from /proc.

The tree is every descendant of the benchmark process: the JVM that
``get_spark`` launches, the PySpark worker daemon it forks and the
Python workers the daemon forks. A worker that exits is reaped by its
parent, so its CPU time moves into the parent's ``cutime``/``cstime``
and stays counted.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name may hold spaces: split after its closing paren
    return s[s.rfind(")") + 2:].split()


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of root's descendants, including the
    reaped children each of them waited for."""
    total = 0
    for pid in descendants(root):
        f = _stat_fields(pid)
        if f is not None:  # fields 14-17 of stat: utime stime cutime cstime
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def resident_pages(stats: dict[int, tuple[int, int, int]]) -> int:
    """Resident pages of a tree given pid -> (ppid, vsize, rss pages).

    A child the JVM starts with posix_spawn runs in the JVM's address
    space until it execs, and /proc shows it with the JVM's vsize and
    RSS; such a child (same vsize as its parent) is counted once, as
    its parent."""
    return sum(
        rss
        for ppid, vsize, rss in stats.values()
        if ppid not in stats or stats[ppid][1] != vsize
    )


def tree_rss_mb(root: int) -> float:
    stats = {}
    for pid in descendants(root):
        f = _stat_fields(pid)
        if f is not None:  # fields 4, 23, 24 of stat: ppid vsize rss
            stats[pid] = (int(f[1]), int(f[20]), int(f[21]))
    return resident_pages(stats) * _PAGE / 1e6


class PeakRss:
    """Samples the tree's summed RSS every ``interval`` seconds on a
    background thread; ``peak_mb`` is the largest sample."""

    def __init__(self, root: int, interval: float = 0.05):
        self._root = root
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.peak_mb = 0.0

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self._root))
            if self._stop.wait(self._interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self._root))
