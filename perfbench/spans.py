"""Counters read at layer boundaries, and the span recorder built on them.

Counters are cumulative and cost no Spark job to read:

- jobs, completed stages, shuffle bytes written and executor CPU, from
  the driver's status store (``statusStore().stageList(...)``, newest
  first, so each read walks only the stages added since the last one);
- JIT compile time and GC time, from the JVM's management beans;
- process-tree CPU, the part of it spent in Python workers, and host
  steal time, from ``/proc``.

A span is the counter delta between entering and leaving a ``with``
block, plus name, start, end, parent and run id. Spans stay in memory
until the worker writes them out with its record.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

from procfs import host_cpu, tree_cpu

COUNTERS = ("jobs", "stages", "shuffle_write_bytes", "exec_cpu_s",
            "jit_s", "gc_s", "cpu_s", "pyworker_cpu_s", "steal_s")


def process_counters(pid: int) -> dict:
    """The counters that exist before a Spark session does (JVM and
    status-store counters read as 0)."""
    cpu = tree_cpu(pid)
    return {**dict.fromkeys(COUNTERS, 0), "cpu_s": cpu["total"],
            "pyworker_cpu_s": cpu["pyworker"], "steal_s": host_cpu()["steal"]}


class Counters:
    def __init__(self, spark):
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._mf = sc._jvm.java.lang.management.ManagementFactory
        self._pid = os.getpid()
        self._last_stage = -1
        self._stages = self._shuffle = self._exec_ns = 0

    def read(self) -> dict:
        """Cumulative counters now, after the listener bus has drained
        (so the stages of every finished job are in the store)."""
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)
        n_jobs = jobs.apply(0).jobId() + 1 if jobs.size() else 0
        stages = self._store.stageList(None, False, False, self._no_quantiles, None)
        newest = self._last_stage
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= self._last_stage:
                break
            newest = max(newest, sid)
            if s.status().toString() == "COMPLETE":
                self._stages += 1
                self._shuffle += s.shuffleWriteBytes()
                self._exec_ns += s.executorCpuTime()
        self._last_stage = newest
        return {
            **process_counters(self._pid),
            "jobs": n_jobs,
            "stages": self._stages,
            "shuffle_write_bytes": self._shuffle,
            "exec_cpu_s": self._exec_ns / 1e9,
            "jit_s": self._mf.getCompilationMXBean().getTotalCompilationTime() / 1e3,
            "gc_s": sum(g.getCollectionTime()
                        for g in self._mf.getGarbageCollectorMXBeans()) / 1e3,
        }


def delta(before: dict, after: dict) -> dict:
    return {k: after[k] - before[k] for k in COUNTERS}


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` is a bare
    ``yield`` and reads nothing."""

    def __init__(self, counters: Counters, run_id: str, enabled: bool, t0: float):
        self.counters = counters
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = t0

    def add(self, name: str, start: float, end: float, counters: dict) -> None:
        """Record a span measured without :meth:`span` (``perf_counter``
        times), such as the session build the counters depend on."""
        if self.enabled:
            self.spans.append({"name": name, "run_id": self.run_id, "parent": None,
                               "start": start - self._t0, "end": end - self._t0,
                               "counters": counters})

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        before = self.counters.read()
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"name": name, "run_id": self.run_id, "parent": parent,
                           "start": time.perf_counter() - self._t0})
        self._stack.append(idx)
        try:
            yield
        finally:
            end = time.perf_counter() - self._t0
            self._stack.pop()
            rec = self.spans[idx]
            rec["end"] = end
            rec["counters"] = delta(before, self.counters.read())

    def self_times(self) -> dict[str, float]:
        """Span name -> summed self time (duration minus child durations)."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            own = s["end"] - s["start"] - child.get(i, 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out
