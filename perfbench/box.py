"""Box state recorded with every run, and the peak memory of the process tree.

A run on a loaded or hypervisor-stolen box reads slower for reasons outside
the program; ``load1`` and the CPU steal share let a reader set such runs
apart.
"""

from __future__ import annotations

import os
import sys
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    # user nice system idle iowait irq softirq steal (guest time is already
    # counted in user)
    return [int(x) for x in fields[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta)
    return delta[7] / total if total else 0.0


def git_head(root: str) -> str | None:
    """HEAD commit read from ``.git`` without running git; None outside a
    git checkout."""
    git = os.path.join(root, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        path = os.path.join(git, ref)
        if os.path.exists(path):
            with open(path) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return None


class BoxState:
    """``load1`` and CPU counters at start; :meth:`finish` adds the end state."""

    def __init__(self, root: str) -> None:
        self.root = root
        self.load1_before = os.getloadavg()[0]
        self._cpu0 = cpu_times()

    def finish(self, spark_version: str | None, java_version: str | None) -> dict:
        return {
            "nproc": nproc(),
            "load1_before": self.load1_before,
            "load1_after": os.getloadavg()[0],
            "steal_share": steal_share(self._cpu0, cpu_times()),
            "python": sys.version.split()[0],
            "spark": spark_version,
            "java": java_version,
            "git_head": git_head(self.root),
            "spark_graft_env": {k: v for k, v in sorted(os.environ.items())
                                if k.startswith("SPARK_GRAFT_")},
        }


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; the parent pid follows the ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def tree_rss_bytes(pid: int) -> int:
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class PeakRss:
    """Samples the resident memory of this process and everything it started
    (the JVM and its Python workers) until :meth:`stop`."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(pid))
            if self._stop.wait(self.interval_s):
                return

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak
