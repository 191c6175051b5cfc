"""CPU time and resident memory of this process and all its descendants.

The benchmark's process tree is the Python driver, the JVM it launches,
Spark's Python worker daemon, the workers it forks and their helpers. All
numbers are read from /proc, so they cover every process of the tree
without any hook in the program.
"""

from __future__ import annotations

import os
import threading

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listdir and open
        return None
    # field 2 (comm) may hold spaces; everything after the last ')' is fixed
    return raw[raw.rindex(")") + 2 :].split()


def _tree() -> dict[str, list[str]]:
    """pid -> stat fields (from field 3 on) for this process and its
    descendants."""
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            fields = _stat_fields(pid)
            if fields is not None:
                stats[pid] = fields
    children: dict[str, list[str]] = {}
    for pid, fields in stats.items():
        children.setdefault(fields[1], []).append(pid)
    out = {}
    todo = [str(os.getpid())]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """User+system CPU seconds of the tree, including reaped children
    (cutime/cstime), so a worker that exits keeps counting through its
    parent."""
    ticks = 0
    for fields in _tree().values():
        # fields[0] is state; utime, stime, cutime, cstime are stat fields
        # 14-17, i.e. indices 11-14 here
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / _CLK_TCK


def tree_rss_mb() -> float:
    """Summed resident set size of the tree in MiB (stat field 24)."""
    return sum(int(f[21]) for f in _tree().values()) * _PAGE / (1 << 20)


class RssSampler:
    """Samples tree RSS on a background thread; ``peak_mb`` is the highest
    sum seen since the last ``reset``."""

    def __init__(self, interval_s: float = 0.1):
        self._interval = interval_s
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._peak = 0.0
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def sample(self) -> None:
        rss = tree_rss_mb()
        with self._lock:
            self._peak = max(self._peak, rss)

    def reset(self) -> None:
        with self._lock:
            self._peak = 0.0
        self.sample()

    @property
    def peak_mb(self) -> float:
        self.sample()
        with self._lock:
            return self._peak
