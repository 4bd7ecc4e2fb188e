"""Metric definitions: which numbers a run reports, from which record.

End-to-end metrics come from every run and are what a user of the batch
job sees. Per-layer metrics come from the traced run's spans, one group
per module of the program, each the median over the run's passes;
every name is reported on every workload, and a layer the workload
never calls reads 0. ``BENCHMARK.json`` lists the same names
(``tests/test_helpers.py`` keeps the two in step).
"""

from __future__ import annotations

import os
import statistics

from inputs import HEADLINE
from procfs import percentile, tail_percentile

MB = 1e6

END_TO_END = {
    "setup_s": "s",
    "cpu_s": "CPU-s",
}

CORPUS_OPS = ("topk", "prepare", "compress")
TX_OPS = ("append", "update", "delete", "apply_deletes", "merge", "read",
          "compact", "vacuum")
#: the ops of txn_churn that commit a new table version
COMMIT_OPS = ("tx.append", "tx.update", "tx.delete", "tx.apply_deletes",
              "tx.merge", "tx.compact")
SPARK = {"jobs": "count", "stages": "count", "shuffle_write_mb": "MB",
         "exec_cpu_s": "CPU-s"}


def _per_layer_units() -> dict[str, str]:
    u = {"pass.wall_s": "s", "pass.cpu_s": "CPU-s", "pass.wall_min_s": "s",
         "session.start_s": "s", "proc.peak_rss_mb": "MB",
         "queries.construct_s": "s", "queries.construct_jobs": "count"}
    for q in HEADLINE:
        u.update({f"headline.{q}.construct_s": "s", f"headline.{q}.exec_s": "s",
                  f"headline.{q}.jobs": "count"})
    u.update({f"spark.{k}": v for k, v in SPARK.items()})
    for op in CORPUS_OPS:
        u.update({f"corpus.{op}.wall_s": "s", **{f"corpus.{op}.{k}": v
                  for k, v in SPARK.items() if k != "stages"}})
    u.update({"corpus.out_mb": "MB", "pyworker.cpu_s": "CPU-s"})
    for op in TX_OPS:
        u.update({f"tx.{op}.p50_s": "s", f"tx.{op}.jobs": "count"})
    u.update({"tx.commit_tail_s": "s", "tx.log_bytes_per_commit": "bytes",
              "tx.data_mb_written": "MB", "tx.live_files_end": "count",
              "tx.space_amp": "ratio", "pipe.tick_p50_s": "s",
              "pipe.tick_jobs": "count", "pipe.lag_versions_end": "count",
              "jvm.jit_s": "s", "jvm.gc_s": "s", "host.steal_s": "s",
              "host.outside_cpu_s": "CPU-s"})
    return u


PER_LAYER = _per_layer_units()
UNITS = {**END_TO_END, **PER_LAYER}


#: CPU seconds of one ``hostprobe`` unit that define the reference host
#: speed (the median unit on the 4-vCPU host the benchmark was written on)
REF_UNIT_CPU_S = 0.0022
#: a sample shorter than this is scaled by the probe's mean over this
#: much time around it, so that every scale averages ~40 probe units
MIN_WINDOW_S = 2.0


def host_slowness(probe: list[list[float]], t0: float, t1: float) -> float:
    """How slowly the host ran over ``[t0, t1]`` (``time.monotonic``):
    the probe's mean unit CPU there ÷ ``REF_UNIT_CPU_S``. A window
    shorter than ``MIN_WINDOW_S`` is widened around its middle; one the
    probe missed takes the nearest unit."""
    if not probe:
        raise ValueError("the host probe recorded nothing")
    pad = max(0.0, (MIN_WINDOW_S - (t1 - t0)) / 2)
    xs = [loop + gather for t, loop, gather in probe if t0 - pad <= t <= t1 + pad]
    if not xs:
        mid = (t0 + t1) / 2
        xs = [sum(min(probe, key=lambda u: abs(u[0] - mid))[1:])]
    return statistics.fmean(xs) / REF_UNIT_CPU_S


def pass_cost(samples: dict[str, list[dict]], passes: int,
              probe: list[list[float]] | None = None, key: str = "cpu_s") -> float:
    """The cost of one warm pass: for every op of the pass, the least
    ``key`` it took in any of the ``passes`` passes, summed. With
    ``probe``, each sample is first divided by the host's slowness
    while it ran.

    The first pass of a fresh JVM pays the JIT compilation of every op
    it calls (about half its CPU), and that share swings with the
    host's load; each op's minimum over the passes is its warm cost.
    Ops run after the last pass (compaction) are left out."""
    total = 0.0
    for xs in samples.values():
        costs = [x[key] / (host_slowness(probe, x["t0"], x["t1"]) if probe else 1.0)
                 for x in xs if x["pass"] < passes]
        if costs:
            total += min(costs)
    return total


def setup_time(rec: dict, n_cpus: int) -> float:
    """Set-up wall time without the host's stolen time (spread over its
    ``n_cpus``), divided by the host's slowness while it ran."""
    t0, t1 = rec["setup_window"]
    return ((rec["setup_s"] - rec["setup_steal_s"] / n_cpus)
            / host_slowness(rec["probe"], t0, t1))


def end_to_end(rec: dict, n_cpus: int) -> dict[str, float]:
    return {"setup_s": setup_time(rec, n_cpus),
            "cpu_s": pass_cost(rec["samples"], rec["passes"], rec["probe"])}


def commit_tail(samples: dict[str, list[dict]]) -> dict:
    """The commit-latency tail: the highest percentile with at least ten
    samples beyond it, with the percentile and sample count it used."""
    xs = [x["wall_s"] for n in COMMIT_OPS for x in samples.get(n, ())]
    p = tail_percentile(len(xs))
    return {"percentile": p, "samples": len(xs),
            "value": percentile(xs, p) if p is not None else max(xs, default=0.0)}


def state_metrics(workload: str, rec: dict, work: str) -> dict:
    """Numbers read from the files a run left behind, before they go."""
    if workload == "batch":
        from worker import prepared_dir

        out = prepared_dir(work, 0)
        size = sum(os.path.getsize(os.path.join(d, f))
                   for d, _, fs in os.walk(out) for f in fs)
        return {"corpus.out_mb": size / MB}
    if workload == "txn_churn":
        res = rec["results"]
        t = res["table"]
        cursor = res["passes"][-1]["cursor"] if res["passes"] else None
        return {"tx.log_bytes_per_commit": res["log_bytes_per_commit"],
                "tx.data_mb_written": res["data_bytes_written"] / MB,
                "tx.live_files_end": t["live_files"],
                "tx.space_amp": t["space_amp"],
                # no replicated version at all counts the whole log as lag
                "pipe.lag_versions_end": t["version"] - (
                    -1 if cursor is None else cursor),
                "tx.commit_tail": commit_tail(rec["samples"])}
    return {}


def _spans(rec: dict, name: str) -> list[dict]:
    return [s for s in rec["spans"] if s["name"] == name]


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0


def _med_dur(spans: list[dict]) -> float:
    return _med(s["end"] - s["start"] for s in spans)


def _med_count(spans: list[dict], key: str) -> float:
    return _med(s["counters"][key] for s in spans)


def _spark(spans: list[dict]) -> dict:
    return {"jobs": _med_count(spans, "jobs"), "stages": _med_count(spans, "stages"),
            "shuffle_write_mb": _med_count(spans, "shuffle_write_bytes") / MB,
            "exec_cpu_s": _med_count(spans, "exec_cpu_s")}


def per_layer(workload: str, rec: dict, extra: dict) -> dict[str, float]:
    """Every per-layer metric from a traced run, each the median over the
    run's passes (ops run once, such as compaction, report that once);
    0 for layers not called."""
    m = dict.fromkeys(PER_LAYER, 0)
    passes = _spans(rec, "pass")
    m["pass.wall_s"] = _med_dur(passes)
    m["pass.cpu_s"] = _med_count(passes, "cpu_s")
    m["pass.wall_min_s"] = pass_cost(rec["samples"], rec["passes"], key="wall_s")
    m["session.start_s"] = rec["session_s"]
    m["proc.peak_rss_mb"] = rec["peak_rss_mb"]
    m.update({f"spark.{k}": v for k, v in _spark(passes).items()})
    m["pyworker.cpu_s"] = _med_count(passes, "pyworker_cpu_s")
    m["jvm.jit_s"] = _med_count(passes, "jit_s")
    m["jvm.gc_s"] = _med_count(passes, "gc_s")
    m["host.steal_s"] = rec["host"]["steal_s"]
    m["host.outside_cpu_s"] = rec["host"]["outside_cpu_s"]
    for q in HEADLINE:
        c, e = _spans(rec, f"headline.{q}.construct"), _spans(rec, f"headline.{q}.exec")
        m[f"headline.{q}.construct_s"] = _med_dur(c)
        m[f"headline.{q}.exec_s"] = _med_dur(e)
        m[f"headline.{q}.jobs"] = _med_count(c, "jobs") + _med_count(e, "jobs")
        m["queries.construct_s"] += m[f"headline.{q}.construct_s"]
        m["queries.construct_jobs"] += _med_count(c, "jobs")
    for op in CORPUS_OPS:
        s = _spans(rec, f"corpus.{op}")
        m[f"corpus.{op}.wall_s"] = _med_dur(s)
        for k, v in _spark(s).items():
            if k != "stages":
                m[f"corpus.{op}.{k}"] = v
    for op in TX_OPS:
        s = _spans(rec, f"tx.{op}")
        m[f"tx.{op}.p50_s"] = _med_dur(s)
        m[f"tx.{op}.jobs"] = _med_count(s, "jobs")
    ticks = _spans(rec, "pipe.tick")
    m["pipe.tick_p50_s"] = _med_dur(ticks)
    m["pipe.tick_jobs"] = _med_count(ticks, "jobs")
    if "tx.commit_tail" in extra:
        m["tx.commit_tail_s"] = extra["tx.commit_tail"]["value"]
    m.update({k: v for k, v in extra.items() if k in PER_LAYER})
    return m


def trace_check(traced: dict, untraced: dict | None) -> dict:
    """Tracing must add no Spark job; its cost is the wall-time difference."""
    if untraced is None:
        return {"ok": False, "why": "no untraced run of the same inputs to compare"}
    jobs_t, jobs_u = traced["counters"]["jobs"], untraced["counters"]["jobs"]
    return {
        "ok": jobs_t == jobs_u,
        "why": f"traced run launched {jobs_t} jobs, untraced {jobs_u}",
        "jobs": jobs_t,
        "overhead_s": traced["wall_s"] - untraced["wall_s"],
        "overhead_min_s": (pass_cost(traced["samples"], traced["passes"], key="wall_s")
                           - pass_cost(untraced["samples"], untraced["passes"], key="wall_s")),
    }
