"""Host stamps: CPU calibration, steal/iowait, and peak RSS of the
Spark processes, all read from ``/proc`` (psutil is not installed). Memory is
proportional set size (PSS), the honest sum over forked processes.

The shared host swings by up to 2x between processes, so every result
carries these stamps; a before/after comparison is only meaningful
between runs whose stamps agree.
"""

from __future__ import annotations

import os
import threading

__all__ = ["calibrate", "cpu_jiffies", "steal_iowait_pct", "tree_cpu_s", "RssSampler"]


def calibrate(procs: int, pages: int = 12_000) -> float:
    """Pages/s of the fixed pure-Python extraction work in
    ``benchkit.cpu_calibrate`` across ``procs`` processes."""
    from benchkit.cpu_calibrate import run_level

    return pages / run_level(procs, pages)


def cpu_jiffies() -> list[int]:
    """Aggregate jiffies: user nice system idle iowait irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_iowait_pct(before: list[int], after: list[int]) -> tuple[float, float]:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return 100.0 * d[7] / total, 100.0 * d[4] / total


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                # the command name may hold spaces: ppid follows the last ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process below
    it (the driver JVM and its Python workers), reaped children
    included. Time stolen by the hypervisor is not in it."""
    me = os.getpid()
    kids = _children()
    total, stack = 0, [me]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        # utime stime cutime cstime (fields 14-17 of proc(5))
        total += sum(int(x) for x in fields[11:15])
        stack.extend(kids.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


def _pss_kb(pid: int) -> int:
    """Proportional set size: shared pages (the forked Python workers
    share their parent's) are split between the sharers, not counted
    once per process as plain RSS would."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants_pss_kb(root: int) -> tuple[int, int]:
    """(summed PSS, process count) of every process below ``root`` (not
    ``root`` itself): the driver JVM and the Python workers it forks."""
    kids = _children()
    total, n, stack = 0, 0, list(kids.get(root, []))
    while stack:
        pid = stack.pop()
        total += _pss_kb(pid)
        n += 1
        stack.extend(kids.get(pid, []))
    return total, n


class RssSampler:
    """Background sampler of ``descendants_pss_kb`` keeping the peaks."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_kb = self.peak_procs = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.interval_s):
            kb, n = descendants_pss_kb(me)
            self.peak_kb = max(self.peak_kb, kb)
            self.peak_procs = max(self.peak_procs, n)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
