"""CPU time and resident memory of this process and all its
descendants (driver Python, the Spark JVM, its Python workers), read
from ``/proc`` so no extra package is needed."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stats() -> dict[int, list[str]]:
    """pid -> fields of /proc/<pid>/stat after the command name."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        out[int(name)] = raw[raw.rindex(")") + 2:].split()
    return out


def _tree(stats: dict[int, list[str]], root: int) -> list[list[str]]:
    children: dict[int, list[int]] = {}
    for pid, f in stats.items():
        children.setdefault(int(f[1]), []).append(pid)
    todo, seen = [root], []
    while todo:
        pid = todo.pop()
        if pid in stats:
            seen.append(stats[pid])
            todo.extend(children.get(pid, ()))
    return seen


def cpu_seconds() -> float:
    """User+system CPU of the tree so far. Children that already ended
    and were reaped are counted through their parent's cutime/cstime."""
    tree = _tree(_stats(), os.getpid())
    # after the name: state=0 ppid=1 ... utime=11 stime=12 cutime=13
    # cstime=14 ... rss=21 (pages)
    return sum(int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
               for f in tree) / _TICK


def rss_mb() -> float:
    tree = _tree(_stats(), os.getpid())
    return sum(int(f[21]) for f in tree) * _PAGE / 2**20


class PeakRss:
    """Samples the tree's total RSS on a background thread; ``peak_mb``
    is the largest sample seen between ``start`` and ``stop``."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, rss_mb())
            self._stop.wait(self.interval_s)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, rss_mb())
        return self.peak_mb
