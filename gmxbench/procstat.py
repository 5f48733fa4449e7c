"""Process-tree CPU, proportional set size, and host steal from /proc.

CPU of the tree is the sum, over every live process below (and including)
the benchmark, of utime + stime + cutime + cstime.  The c-fields hold the
CPU of children that have exited and been reaped, so Python workers that
the PySpark daemon forked and reaped still count, and a process counted
live at one sample and reaped by the next moves into its parent's c-fields
without being lost or counted twice.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may contain spaces and parentheses: split after it
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids() -> list[int]:
    """This process and all its descendants."""

    kids = _children_map()
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by the process tree, reaped children included."""

    ticks = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        # fields[11..14] are utime, stime, cutime, cstime (stat fields 14-17)
        ticks += sum(int(v) for v in fields[11:15])
    return ticks / _TICK


def tree_pss_mb() -> float:
    total_kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies summed over all CPUs, from /proc/stat."""

    with open("/proc/stat") as fh:
        fields = [int(v) for v in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already inside user, so only the first eight are summed
    return fields[7], sum(fields[:8])


class PeakPss:
    """Background sampler of the tree's PSS; ``peak_mb`` is the largest
    sample taken since ``start`` or the last ``reset``."""

    INTERVAL_S = 0.25

    def __init__(self) -> None:
        self.peak_mb = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> float:
        mb = tree_pss_mb()
        with self._lock:
            self.peak_mb = max(self.peak_mb, mb)
            return self.peak_mb

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.INTERVAL_S)

    def reset(self) -> None:
        """Forget the samples taken so far."""
        with self._lock:
            self.peak_mb = 0.0

    def start(self) -> "PeakPss":
        self._thread = threading.Thread(target=self._run, name="pss-sampler", daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
