"""Process-tree memory sampling and run-context probes (Linux /proc)."""

from __future__ import annotations

import hashlib
import os
import threading
import time

import numpy as np

_PAGE = os.sysconf("SC_PAGE_SIZE")


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
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of root and all its descendants (driver, JVM,
    Python workers)."""
    kids = _children_map()
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
        stack.extend(kids.get(pid, ()))
    return total


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by root and all its descendants, live or
    exited: user + system time of every live process in the tree, plus
    the reaped-children time each one has collected. Time the hypervisor
    steals from the box is not in it."""
    kids = _children_map()
    ticks, stack = 0, [root]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        # utime, stime, cutime, cstime are fields 14-17 of stat(5)
        ticks += sum(int(x) for x in fields[11:15])
        stack.extend(kids.get(pid, ()))
    return ticks / _TICK


class PeakRss:
    """Background sampler of the whole process tree's RSS; `reset()` starts
    a new window and `peak_mb` is the largest sample since."""

    def __init__(self, interval: float = 0.1):
        self._interval = interval
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self._interval):
            rss = tree_rss_bytes(me)
            with self._lock:
                self._peak = max(self._peak, rss)

    def reset(self) -> None:
        rss = tree_rss_bytes(os.getpid())
        with self._lock:
            self._peak = rss

    @property
    def peak_mb(self) -> float:
        with self._lock:
            return self._peak / 2**20


def cpu_probe_s() -> float:
    """Fixed single-thread work (numpy elementwise loop + md5 chain), so a
    slow operation can be told apart from a slow box: hypervisor steal
    shows here but not in loadavg."""
    t0 = time.perf_counter()
    x = np.arange(500_000, dtype=np.float64)
    for _ in range(20):
        x = np.sqrt(x * 1.0000001 + 1.0)
    h = b"probe"
    for _ in range(50_000):
        h = hashlib.md5(h).digest()
    return time.perf_counter() - t0


def run_context() -> dict:
    return {"loadavg_1m": round(os.getloadavg()[0], 2),
            "cpu_probe_s": round(cpu_probe_s(), 4)}
