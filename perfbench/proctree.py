"""Process-tree CPU and memory, read from ``/proc/<pid>/stat`` (psutil
is not a dependency of this repository).

The tree is this Python driver, the JVM that pyspark launches as its
child, the pyspark daemon the JVM forks, and the Python workers the
daemon forks per task. The daemon ignores SIGCHLD, so the kernel reaps
its workers without adding their CPU time to the daemon's ``cutime``:
a worker's CPU is only visible while it lives. The sampler therefore
walks the tree every ``interval_s`` and keeps the last CPU reading of
every process it has seen, so tree CPU is the sum of those readings.
What a worker spends after its last sample (under ``interval_s``) is
missed.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` from the state field (field 3)
    on, or None when the process has gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # comm may contain spaces and parens: split after the LAST ')'
    return raw[raw.rindex(b")") + 2:].decode().split()


def tree_stats(root: int) -> dict[tuple[int, int], tuple[int, int]]:
    """(pid, start time) → (CPU ticks, RSS bytes) for ``root`` and all
    its live descendants. CPU ticks are utime + stime + cutime +
    cstime."""
    stats, children = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                stats[int(name)] = fields
                # fields[1] is the ppid
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        f = stats.get(pid)
        if f is not None:
            # stat fields 14-17 are the CPU times, 22 the start time,
            # 24 the RSS in pages
            out[(pid, int(f[19]))] = (sum(int(x) for x in f[11:15]),
                                      int(f[21]) * _PAGE)
    return out


def host_cpu_s() -> tuple[float, float]:
    """(busy, stolen) CPU seconds of the whole machine so far, summed
    over its CPUs, from the first line of ``/proc/stat``. Busy is user,
    nice, system, irq and softirq time; stolen is the time a virtual
    CPU wanted to run and the hypervisor ran something else."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = fields
    return (user + nice + system + irq + softirq) / _TICK, steal / _TICK


def steal_share(before: tuple[float, float],
                after: tuple[float, float]) -> float:
    """Share of the time the machine's CPUs wanted to run between two
    ``host_cpu_s()`` readings that the hypervisor took away."""
    busy, stolen = after[0] - before[0], after[1] - before[1]
    return stolen / (busy + stolen) if busy + stolen > 0 else 0.0


class TreeSampler:
    """Samples the tree on a daemon thread. ``cpu_s()`` is the tree's
    CPU seconds so far, exited processes included; ``peak_bytes`` is the
    largest summed RSS seen while ``active`` is set, since the last
    ``start_peak()``."""

    def __init__(self, root: int, interval_s: float) -> None:
        self.root = root
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.samples = 0
        self.active = threading.Event()
        self._cpu: dict[tuple[int, int], int] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True,
                                        name="proc-tree-sampler")

    def sample(self) -> None:
        stats = tree_stats(self.root)
        with self._lock:
            for key, (ticks, _rss) in stats.items():
                self._cpu[key] = ticks
            if self.active.is_set():
                self.samples += 1
                self.peak_bytes = max(self.peak_bytes,
                                      sum(r for _t, r in stats.values()))

    def start_peak(self) -> None:
        with self._lock:
            self.peak_bytes = 0
        self.active.set()

    def cpu_s(self) -> float:
        self.sample()
        with self._lock:
            return sum(self._cpu.values()) / _TICK

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
