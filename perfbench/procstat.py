"""Process-tree CPU and memory, and the host window, read from /proc.

``getrusage(RUSAGE_CHILDREN)`` only counts children that have exited, so it
misses the py4j JVM (alive for the whole run) and the Python worker daemon it
forks. These helpers walk /proc from the JVM pid instead.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may contain spaces: fields start after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """utime+stime of the tree, plus what its members reaped from exited
    children (cutime+cstime), so a worker that exits mid-pass still counts."""
    ticks = 0
    for pid in tree(root):
        f = _stat_fields(pid)
        if f is not None:
            # fields after the ')' are numbered from 3 (state) in proc(5)
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _TICK


def tree_rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        f = _stat_fields(pid)
        if f is not None:
            total += int(f[21]) * _PAGE
    return total / 1e6


class RssSampler:
    """Samples the summed RSS of the process tree in a background thread;
    ``peak()`` returns the highest sum seen since the last ``reset()``."""

    def __init__(self, root: int, interval: float = 0.05) -> None:
        self.root = root
        self.interval = interval
        self._peak = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        pids = tree(self.root)
        n = 0
        while not self._stop.wait(self.interval):
            n += 1
            if n % 20 == 0:        # workers come and go; re-walk once a second
                pids = tree(self.root)
            rss = tree_rss_mb(pids)
            with self._lock:
                self._peak = max(self._peak, rss)

    def reset(self) -> None:
        with self._lock:
            self._peak = tree_rss_mb(tree(self.root))

    def peak(self) -> float:
        with self._lock:
            return self._peak


def steal_s() -> float:
    """Cumulative host steal time (8th value of the /proc/stat cpu line)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class HostWindow:
    """Steal delta and load average over one timed pass."""

    def __enter__(self) -> HostWindow:
        self._steal0 = steal_s()
        return self

    def __exit__(self, *exc) -> None:
        self.steal_s = steal_s() - self._steal0
        self.load_1m = loadavg_1m()
