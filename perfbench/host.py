"""Host facts and process-tree memory, read from ``/proc`` (Linux only).

Everything here sizes the benchmark from the host it runs on and describes
that host in the record: task slots, memory, load, CPU steal, and the peak
resident memory of one Spark driver process tree (the Python driver, its JVM
and the JVM's Python workers).
"""

from __future__ import annotations

import os
import threading

PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb(mem_mb: float) -> int:
    """Driver heap: an eighth of host memory, at least 1 GiB and at most
    8 GiB, in whole 256 MiB steps. The JVM's off-heap, the Python workers and
    the other containers on the host share the rest."""
    return int(min(max(mem_mb / 8, 1024), 8192) // 256 * 256)


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of all CPU time stolen by the hypervisor between two samples."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])  # user..steal; guest time is already in user
    return delta[7] / total if total else 0.0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # the process ended while we listed
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _counted(comm: str) -> bool:
    """The JVM and Python processes. A child the JVM forks to run a command
    shares the JVM's pages until it execs, under the name of the forking
    thread; counting it would count the JVM twice."""
    return comm == "java" or comm.startswith("python")


def tree_rss_mb(root: int) -> dict[str, float]:
    """Resident memory of the JVM and Python processes among ``root`` and
    its descendants, summed per command name."""
    kids = _children()
    out: dict[str, float] = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                rss = int(fh.read().split()[1]) * PAGE / 2**20
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
        except OSError:
            continue  # the process ended while we looked
        if _counted(comm):
            out[comm] = out.get(comm, 0.0) + rss
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used by ``root`` and its descendants,
    including descendants that already ended and were reaped. Time the
    hypervisor stole is not in it."""
    kids = _children()
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


class PeakRss:
    """Samples a process tree's summed RSS on a thread until stopped."""

    def __init__(self, root: int, period_s: float = 0.1):
        self.root, self.period_s = root, period_s
        self.peak_mb = 0.0
        self.peak_by_command: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc: object) -> None:
        self._stop.set()
        self._thread.join()

    def _run(self) -> None:
        while not self._stop.is_set():
            by_command = tree_rss_mb(self.root)
            total = sum(by_command.values())
            if total > self.peak_mb:
                self.peak_mb, self.peak_by_command = total, by_command
            self._stop.wait(self.period_s)


def group_members(pgid: int) -> list[int]:
    """Live processes whose process group is ``pgid``."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z" and int(fields[2]) == pgid:
            out.append(int(name))
    return out
