"""CPU and resident memory of a process tree, read from /proc.

The benchmark's process tree is the Python driver, the JVM it launches and
the JVM's Python workers; harness helpers (the stream generator) are
excluded by pid, with their descendants.

Memory is the proportional set size (PSS): resident pages, with each page
shared by n processes counted 1/n in each. Summed plain RSS counts the
shared libraries and copy-on-write pages of every forked Python worker
once per worker, so it jumps by gigabytes with the number of workers
alive at the sampling instant; summed PSS counts each page once.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listing and reading
        return None
    # comm (field 2) may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int, exclude: set[int] = frozenset()) -> list[int]:
    """`root` and its live descendants, minus `exclude` and their subtrees."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu(root: int, exclude: set[int] = frozenset()) -> float:
    """CPU seconds summed over the tree: user and system time of each live
    process plus that of its reaped children."""
    cpu = 0.0
    for pid in tree_pids(root, exclude):
        f = _stat_fields(pid)
        if f is not None:
            # fields after comm, 0-based: 11 utime, 12 stime, 13 cutime, 14 cstime
            cpu += sum(int(x) for x in f[11:15]) / _TICK
    return cpu


def tree_pss(root: int, exclude: set[int] = frozenset()) -> int:
    """Proportional set size in bytes summed over the tree."""
    total = 0
    for pid in tree_pids(root, exclude):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:  # exited between listing and reading
            pass
    return total


class TreeSampler:
    """Samples the tree's summed PSS on a thread to keep its peak; CPU is
    read on demand (it is cumulative), less the sampling thread's own CPU,
    which runs inside the root process. Reading PSS walks each process's
    page tables (~25 ms per sample for this tree), hence the 1 s period."""

    def __init__(self, period_s: float = 1.0) -> None:
        self.root = os.getpid()
        self.exclude: set[int] = set()
        self.period_s = period_s
        self.peak_pss = 0
        self.own_cpu_s = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def cpu_s(self) -> float:
        with self._lock:
            own = self.own_cpu_s
        return tree_cpu(self.root, self.exclude) - own

    def reset_peak(self) -> None:
        with self._lock:
            self.peak_pss = tree_pss(self.root, self.exclude)

    def _loop(self) -> None:
        base, t0 = self.own_cpu_s, time.thread_time()
        while not self._stop.wait(self.period_s):
            pss = tree_pss(self.root, self.exclude)
            with self._lock:
                self.peak_pss = max(self.peak_pss, pss)
                self.own_cpu_s = base + time.thread_time() - t0

    def __enter__(self) -> "TreeSampler":
        self.reset_peak()
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def exited(pid: int) -> bool:
    """Whether child `pid` has exited, without reaping it: until it is
    reaped its CPU is not added to this process's children's CPU."""
    return os.waitid(os.P_PID, pid, os.WEXITED | os.WNOHANG | os.WNOWAIT) is not None


def steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])
