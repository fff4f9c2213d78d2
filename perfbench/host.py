"""Host facts the benchmark sizes itself by, and the resident memory of
its own process tree (read from /proc; Linux only)."""

from __future__ import annotations

import os
import threading


def nproc() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def process_start_seconds_ago() -> float:
    """Seconds since this process was started by the kernel."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _tree(root: int) -> list[int]:
    """``root`` and its descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we listed
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _resident_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/comm") as f:
        java = f.read().strip() == "java"
    if java:
        # the JVM shares next to none of its pages, and reading its
        # smaps takes ~35 ms with its memory map locked: read statm
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    with open(f"/proc/{pid}/smaps_rollup") as f:
        return next(int(line.split()[1]) * 1024 for line in f if line.startswith("Pss:"))


def _tree_resident_bytes(root: int) -> int:
    total = 0
    for pid in _tree(root):
        try:
            total += _resident_bytes(pid)
        except (OSError, IndexError, ValueError, StopIteration):
            continue  # the process ended while we read it
    return total


def tree_cpu_seconds(root: int) -> float:
    """User + system CPU seconds of ``root``'s live descendants and of
    the children they have reaped."""
    total = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return total / os.sysconf("SC_CLK_TCK")


class PeakRss:
    """Samples the resident memory of this process and its descendants
    (the driver JVM and its Python workers) while ``sampling`` is set.
    A Python process counts its proportional share (PSS) of the pages
    it shares: the forked workers share most of their pages with their
    daemon, and summing their RSS would count those pages once per
    worker."""

    def __init__(self, interval: float = 0.2) -> None:
        self.peak = 0
        self.sampling = threading.Event()
        self._stop = threading.Event()
        self._interval = interval
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self._interval):
            if self.sampling.is_set():
                self.peak = max(self.peak, _tree_resident_bytes(me))

    def close(self) -> None:
        self._stop.set()
        self._thread.join()
