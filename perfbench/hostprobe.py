"""Host-speed probe that runs beside the program.

    python3 perfbench/hostprobe.py <out.json>

Every ``PERIOD_S`` it runs one fixed unit of work on the next core in
turn and records the CPU seconds the unit took, until SIGTERM; then it
writes ``[[t, loop_cpu_s, gather_cpu_s], ...]`` (``t`` from
``time.monotonic``) to ``out.json``. A unit is an interpreter loop over
a dict and strings, then a random gather from an array far larger than
the cache; it takes about 2 ms, so the probe keeps about 4 % of one
core busy.
"""

from __future__ import annotations

import json
import os
import signal
import sys
import time

PERIOD_S = 0.05
UNIT_N = 2000
ARRAY_MB = 64
GATHER_N = 50000


def unit() -> None:
    counts: dict[int, int] = {}
    acc = 0
    for i in range(UNIT_N):
        k = (i * 2654435761) % 1000003
        counts[k & 0xFFF] = counts.get(k & 0xFFF, 0) + 1
        acc += len(str(k))


def make_gather():
    import numpy as np

    arr = np.ones(ARRAY_MB * 2**20 // 8)
    idx = np.random.default_rng(0).integers(0, len(arr), GATHER_N)
    return lambda: float(arr[idx].sum())


def main() -> None:
    out = sys.argv[1]
    samples: list[list[float]] = []
    stop = []
    signal.signal(signal.SIGTERM, lambda *_: stop.append(1))
    gather = make_gather()
    cores = sorted(os.sched_getaffinity(0))
    nxt = time.monotonic()
    while not stop:
        os.sched_setaffinity(0, {cores[len(samples) % len(cores)]})
        t, c0 = time.monotonic(), time.process_time()
        unit()
        c1 = time.process_time()
        gather()
        samples.append([t, c1 - c0, time.process_time() - c1])
        nxt += PERIOD_S
        time.sleep(max(0.0, nxt - time.monotonic()))
    with open(out, "w") as fh:
        json.dump(samples, fh)


if __name__ == "__main__":
    main()
