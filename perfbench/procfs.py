"""Pure readers of Linux ``/proc``: process-tree CPU and RSS, host CPU
counters, and the tail-percentile rule used for latency metrics.

Every function that touches ``/proc`` takes the root directory as an
argument, so the unit tests can point it at a fake tree.
"""

from __future__ import annotations

import math
import os

#: clock ticks per second for the utime/stime fields of ``/proc/<pid>/stat``
HZ = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100
PAGE = os.sysconf("SC_PAGE_SIZE") if hasattr(os, "sysconf") else 4096

#: percentiles tried, highest first, by :func:`tail_percentile`
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def parse_stat(text: str) -> dict:
    """Fields of one ``/proc/<pid>/stat`` line that this package uses.

    The command name sits in parentheses and may itself contain spaces
    or parentheses, so the fields are split after the LAST ``)``."""
    head, _, rest = text.rpartition(")")
    f = rest.split()
    return {
        "pid": int(head.split("(", 1)[0]),
        "comm": head.split("(", 1)[1],
        "state": f[0],
        "ppid": int(f[1]),
        "session": int(f[3]),
        # utime, stime, cutime, cstime: own CPU plus CPU of reaped children
        "cpu_ticks": int(f[11]) + int(f[12]) + int(f[13]) + int(f[14]),
    }


def read_stats(proc: str = "/proc") -> dict[int, dict]:
    """``pid -> parse_stat(...)`` for every process readable now."""
    out = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(f"{proc}/{name}/stat") as fh:
                out[int(name)] = parse_stat(fh.read())
        except (OSError, ValueError, IndexError):
            continue  # exited between listdir and open
    return out


def descendants(stats: dict[int, dict], root: int) -> list[int]:
    """``root`` and every process below it, from a ``read_stats`` map."""
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(st["ppid"], []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(pid)
            todo.extend(children.get(pid, ()))
    return sorted(out)


def tree_cpu(root: int, proc: str = "/proc") -> dict:
    """CPU seconds (user+sys, reaped children included) of the tree under
    ``root``: ``total``, and ``pyworker`` — the Python processes below
    ``root`` (the UDF workers the JVM forks), ``root`` itself excluded."""
    stats = read_stats(proc)
    total = pyworker = 0
    for p in descendants(stats, root):
        ticks = stats[p]["cpu_ticks"]
        total += ticks
        if p != root and stats[p]["comm"].startswith("python"):
            pyworker += ticks
    return {"total": total / HZ, "pyworker": pyworker / HZ}


def tree_rss_mb(root: int, proc: str = "/proc") -> float:
    """Summed resident set size of the tree under ``root``, in MB."""
    pages = 0
    for pid in descendants(read_stats(proc), root):
        try:
            with open(f"{proc}/{pid}/statm") as fh:
                pages += int(fh.read().split()[1])
        except (OSError, ValueError, IndexError):
            continue
    return pages * PAGE / 1e6


def host_cpu(proc: str = "/proc") -> dict:
    """Whole-host CPU counters from the ``cpu`` line of ``/proc/stat``,
    in seconds: ``busy`` (user, nice, system, irq, softirq) and
    ``steal`` (time the hypervisor ran someone else)."""
    with open(f"{proc}/stat") as fh:
        line = fh.readline().split()
    v = [int(x) for x in line[1:]]
    v += [0] * (8 - len(v))
    user, nice, system, _idle, _iowait, irq, softirq, steal = v[:8]
    return {
        "busy": (user + nice + system + irq + softirq) / HZ,
        "steal": steal / HZ,
    }


def host_delta(before: dict, after: dict, own_cpu_s: float) -> dict:
    """Host noise over an interval: steal seconds, and busy CPU seconds
    that were not this process tree's (``own_cpu_s``)."""
    return {
        "steal_s": max(0.0, after["steal"] - before["steal"]),
        "outside_cpu_s": max(0.0, after["busy"] - before["busy"] - own_cpu_s),
    }


def tail_percentile(n: int, ladder=TAIL_LADDER, beyond: int = 10) -> float | None:
    """Highest percentile of ``ladder`` with at least ``beyond`` of ``n``
    samples above its nearest-rank position; None if none qualifies."""
    for p in ladder:
        if n - _rank(p, n) >= beyond:
            return p
    return None


def _rank(p: float, n: int) -> int:
    """Nearest rank of percentile ``p`` among ``n`` samples (1-based)."""
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile (the value at rank ceil(p/100 * n))."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return xs[_rank(p, len(xs)) - 1]
