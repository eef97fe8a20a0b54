"""Ambient-noise record and process-tree memory.

The /proc/stat steal share follows ``bench.py``'s ``_cpustat_delta``: ticks
over fields 0-7 only (guest time is already inside user/nice), busy = all
minus idle and iowait, steal share = steal / busy. Past runs on this kind of
shared host saw 11-31 % steal inflate timings 1.5-2x, so every run records it.
"""

from __future__ import annotations

import os
from dataclasses import dataclass


def _cpustat() -> list[int] | None:
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError, IndexError):
        return None


@dataclass
class Ambient:
    load_start: list[float]
    ticks: list[int] | None

    @classmethod
    def start(cls) -> "Ambient":
        return cls(list(os.getloadavg()), _cpustat())

    def stop(self) -> dict:
        out = {
            "load1": os.getloadavg()[0],
            "load_start": self.load_start,
            "load_end": list(os.getloadavg()),
            "ncpus": os.cpu_count(),
        }
        now = _cpustat()
        if self.ticks and now and min(len(self.ticks), len(now)) >= 8:
            d = [b - a for a, b in zip(self.ticks, now)]
            busy = sum(d[:8]) - (d[3] + d[4])
            out["steal_share"] = d[7] / busy if busy else 0.0
            out["busy_ticks"] = busy
        return out


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        tree.setdefault(ppid, []).append(int(entry))
    return tree


def peak_rss_mb() -> float:
    """Sum of VmHWM (per-process peak resident set) over this process and
    its descendants: the Python driver, the JVM and any Python workers."""
    tree = _children()
    todo, total_kb = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        todo.extend(tree.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system, including reaped children) used so far by
    this process and its descendants."""
    tree = _children()
    todo, ticks = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        todo.extend(tree.get(pid, []))
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK
