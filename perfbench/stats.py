"""Small helpers shared by the workloads: percentiles and the CPU time and
memory of the process tree."""

from __future__ import annotations

import os
import statistics

#: a tail percentile needs at least this many samples beyond it
TAIL_MIN_BEYOND = 10


def median(values: list[float]) -> float | None:
    return statistics.median(values) if values else None


def tail(values: list[float]) -> dict:
    """The highest percentile that has at least ten samples beyond it.

    With ``n`` samples sorted ascending this is the ``n - 10``-th smallest
    (nearest rank), at percentile ``100 * (n - 10) / n``: p50 of 20
    samples, p90 of 100, p99 of 1000. Fewer than eleven samples support no
    tail; the value is then ``None`` and only the sample count is given."""
    n = len(values)
    if n <= TAIL_MIN_BEYOND:
        return {"value": None, "pct": None, "n": n}
    k = n - TAIL_MIN_BEYOND
    return {"value": sorted(values)[k - 1], "pct": round(100.0 * k / n, 2), "n": n}


def descendants(pid: int) -> list[int]:
    """``pid`` and every live process below it, from ``/proc``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; the fields after it do not
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_seconds(pid: int | None = None) -> float:
    """User + system CPU time of this process and its live descendants,
    including the reaped children each of them waited for."""
    ticks = 0
    for p in descendants(pid or os.getpid()):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime: fields 14-17 of stat(5)
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def peak_rss_mb(pid: int | None = None) -> float:
    """Sum of ``VmHWM`` (peak resident set) over this process and its live
    descendants: the benchmark's Python process, the JVM it launched and the Python
    workers the JVM forked."""
    total_kb = 0
    for p in descendants(pid or os.getpid()):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
