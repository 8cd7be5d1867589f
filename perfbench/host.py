"""Host-side probes read from /proc: process-tree CPU and memory, steal
time and load average.

The process tree is this benchmark process plus every live descendant:
the Spark JVM and the Python workers it forks.
"""

from __future__ import annotations

import os
import threading

_HZ = os.sysconf("SC_CLK_TCK")


def _proc_stats() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, cpu ticks incl. reaped children)."""
    out = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                raw = f.read().decode("ascii", "replace")
        except OSError:
            continue
        # comm may hold spaces or parens: the fields resume after the last ')'
        rest = raw[raw.rfind(")") + 2 :].split(" ")
        ticks = int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14])
        out[int(pid)] = (int(rest[1]), ticks)
    return out


def _tree(stats: dict[int, tuple[int, int]], root: int | None = None) -> set[int]:
    mine = {os.getpid() if root is None else root}
    changed = True
    while changed:
        changed = False
        for pid, (ppid, _) in stats.items():
            if pid not in mine and ppid in mine:
                mine.add(pid)
                changed = True
    return mine


def tree_cpu_seconds() -> float:
    """utime+stime plus reaped-children cutime+cstime over the tree: each
    tick lands once, in a live process or, after reaping, in its parent."""
    stats = _proc_stats()
    return sum(stats[p][1] for p in _tree(stats)) / _HZ


def subtree_pids(root: int) -> set[int]:
    """``root`` and its live descendants."""
    return _tree(_proc_stats(), root)


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return False
    return raw[raw.rfind(")") + 2] != "Z"


def steal_seconds() -> float:
    """Cumulative steal time of the whole machine (the shared-VM signal)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _HZ


def load_average() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def reset_peaks() -> None:
    """Reset the peak-RSS mark (VmHWM) of every process in the tree."""
    for pid in _tree(_proc_stats()):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def tree_peaks() -> dict[str, int]:
    """Per process name, the summed peak RSS since the last
    ``reset_peaks``: high-water marks do not depend on when a sampler
    happens to look."""
    out: dict[str, int] = {}
    for pid in _tree(_proc_stats()):
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" not in fields:  # a zombie has no memory left
            continue
        name = fields["Name"].strip()
        out[name] = out.get(name, 0) + int(fields["VmHWM"].split()[0]) * 1024
    return out


class LoadSampler:
    """Background thread sampling the 1-minute load average once a second."""

    def __init__(self, interval_s: float = 1.0):
        self._interval = interval_s
        self._stop = threading.Event()
        self._loads: list[float] = [load_average()]
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "LoadSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self._loads.append(load_average())

    def mean(self) -> float:
        loads = list(self._loads)
        return sum(loads) / len(loads)
