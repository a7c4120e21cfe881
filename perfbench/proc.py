"""Process-tree CPU and memory, and the host record, read from /proc.

The benchmark's process tree is the driver Python process, the driver JVM
it launches, and the Python workers the JVM forks. CPU is read from
``/proc/<pid>/stat`` (own time plus the time of reaped children), peak
memory from ``VmHWM`` in ``/proc/<pid>/status``.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float, float] | None:
    """(ppid, own CPU s, reaped-children CPU s) of ``pid``, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is the state; ppid, utime, stime, cutime, cstime follow at
    # their stat(5) positions minus the two leading fields.
    own = (int(fields[11]) + int(fields[12])) / _TICK
    reaped = (int(fields[13]) + int(fields[14])) / _TICK
    return int(fields[1]), own, reaped


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class ProcessTree:
    """CPU of the driver Python process, its JVM and the JVM's workers."""

    def __init__(self, root: int | None = None) -> None:
        self.root = root or os.getpid()

    def _descendants(self) -> dict[int, tuple[int, float, float]]:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        tree, frontier = {}, [self.root]
        while frontier:
            pid = frontier.pop()
            if pid in stats:
                tree[pid] = stats[pid]
            frontier.extend(p for p, st in stats.items() if st[0] == pid)
        return tree

    @staticmethod
    def _jvm(tree) -> int | None:
        return next((pid for pid in tree if _comm(pid) == "java"), None)

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU seconds: ``total`` (whole tree), ``driver_py``
        (the driver Python process alone) and ``pyworker`` (processes
        below the JVM)."""
        tree = self._descendants()
        jvm = self._jvm(tree)
        below_jvm = set()
        if jvm is not None:
            frontier = [jvm]
            while frontier:
                pid = frontier.pop()
                kids = [p for p, st in tree.items() if st[0] == pid]
                below_jvm.update(kids)
                frontier.extend(kids)
        return {
            "total": sum(own + reaped for _, own, reaped in tree.values()),
            "driver_py": tree[self.root][1] if self.root in tree else 0.0,
            "pyworker": sum(tree[p][1] + tree[p][2] for p in below_jvm),
        }

    def peak_rss_mb(self) -> float:
        """Peak resident memory of the driver Python process plus the JVM."""
        total_kb = 0
        for pid in (self.root, self._jvm(self._descendants())):
            if pid is None:
                continue
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total_kb += int(line.split()[1])
            except OSError:
                pass
        return total_kb / 1024.0


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two samples.

    guest and guest_nice are already counted inside user and nice, so only
    the first eight fields form the denominator."""
    delta = [a - b for a, b in zip(after[:8], before[:8])]
    total = sum(delta)
    return 100.0 * delta[7] / total if total else 0.0


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
