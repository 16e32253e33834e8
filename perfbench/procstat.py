"""Process-tree CPU and resident memory from /proc (stdlib only).

The tree is this process plus every descendant: the JVM that PySpark
launches and the Python workers the JVM forks for Arrow UDFs. The JVM's own
CPU accounting misses the Python workers, so CPU is read here, from the
kernel, for the whole tree.

CPU is exact at any instant: utime+stime of every live process in the tree
plus cutime+cstime (descendants that already exited and were reaped).
Resident memory needs sampling; a daemon thread sums the tree's RSS every
0.25 s and keeps the maximum. RSS comes from /proc/<pid>/statm,
which the kernel answers from counters: the page-table walk behind
smaps/PSS takes the JVM's mmap lock for tens of milliseconds per read and
visibly slowed the process being measured.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:  # the process exited between listdir and open
        return None
    # comm may hold spaces or parentheses: split after the LAST ')'
    return raw[raw.rindex(b")") + 2:].split()


def tree(root: int) -> dict[int, list[str]]:
    """pid -> /proc/<pid>/stat fields (after comm) for root's subtree."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(name)
        if fields is None:
            continue
        pid = int(name)
        stats[pid] = fields
        children.setdefault(int(fields[1]), []).append(pid)
    out: dict[int, list[str]] = {}
    stack = [root]
    while stack:
        pid = stack.pop()
        if pid in stats:
            out[pid] = stats[pid]
            stack.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """Cumulative CPU seconds of this process's tree."""
    procs = tree(os.getpid())
    # fields after comm: [0]=state [1]=ppid ... [11]=utime [12]=stime
    # [13]=cutime [14]=cstime
    ticks = sum(int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
                for f in procs.values())
    return ticks / _TICK


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests while this machine's
    vCPUs were runnable (summed over vCPUs); wall time includes it, process
    CPU time does not."""
    with open("/proc/stat", "rb") as f:
        return int(f.readline().split()[8]) / _TICK


def tree_rss_bytes() -> int:
    total = 0
    for pid in tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                total += int(f.read().split()[1])
        except OSError:  # exited meanwhile
            pass
    return total * _PAGE


class ProcSampler:
    """Background peak-RSS sampler. Use as a context manager;
    `peak_rss_mb` is valid after exit."""

    def __init__(self):
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True,
                                        name="procstat")

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(0.25)

    def sample(self) -> None:
        self.peak_rss = max(self.peak_rss, tree_rss_bytes())

    def __enter__(self) -> "ProcSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_rss_mb(self) -> float:
        return self.peak_rss / (1024 * 1024)
