#!/usr/bin/env python
"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default: the
CPUs this process may run on) and print ONE JSON line: {"metric": ...,
"value": total_sec, "unit": "sec", "queries": {name: sec}, "sf": ...}.

Each query is forced end-to-end with a noop sink write (full plan
execution, no driver-side collect bottleneck).

Noise defense (the box is shared; recorded round-over-round swings of
±40% have been pure load artifacts): each query runs PASSES times
(default 3) and reports the per-query MEDIAN; the 1-minute load average
is stamped at start and end — AND per query ("query_load"), because
BENCH_r05 showed load ramping 1.5→8.4 MID-run, silently inflating the
late block ~50%. A query whose pass-to-pass relative spread exceeds
$SPARK_GRAFT_BENCH_SPREAD (default 0.5) gets up to
$SPARK_GRAFT_BENCH_EXTRA_PASSES (default 2) extra passes before the
median is taken; the final per-query spread is recorded
("query_spread") so a cross-round delta can be dismissed as noise from
the artifact alone.

Routing hints: before timing, the harness profiles the tables the
auto-routed queries read (one pass each, at the bench SF) into a temp
sidecar dir and points $SPARK_GRAFT_PROFILE_DIR at it — so front doors
route from metadata and the measured numbers contain zero estimation
jobs, the way a production pipeline with a persisted profile would run.
A pre-existing $SPARK_GRAFT_PROFILE_DIR is honored untouched. Before timing anything the harness WAITS for the box to go
idle (load < $SPARK_GRAFT_BENCH_IDLE_LOAD, default 2.0), retrying up to
$SPARK_GRAFT_BENCH_IDLE_RETRIES times (default 10) with
$SPARK_GRAFT_BENCH_IDLE_WAIT_SEC between probes (default 30); if the
box never goes idle the artifact is stamped "contended": true and
"load_note" says so — an official number should only ever be recorded
from a run with contended=false. Compare bench numbers like-for-like on
idle boxes only.

Round 16 adds the contended-run GUARD (additions only): a timed pass
that finishes contended is re-run after a fresh idle wait, up to
$SPARK_GRAFT_BENCH_RUN_RETRIES times (default 1); a run that stays
contended is stamped "invalid": true in the artifact AND the stdout
line, so cross-round PERF comparisons can refuse poisoned totals
instead of ingesting them (rounds 14 and 15 both shipped contended
32-core headline numbers).

Mid-run contention is detected two ways (contended_stamp, unit-tested):
the 1-min loadavg sampled before each query against IDLE_LOAD_HI, and —
because loadavg carries the bench's OWN bursts, letting an outside ramp
hide just under the ceiling (round 9: 7.96 vs 8.0) — a direct
/proc/stat probe between queries ("query_busy"), when the bench runs
nothing: >$SPARK_GRAFT_BENCH_BUSY_HI (default 3.0) CPUs busy at that
instant is another process, full stop.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from distributed_mapreduce__spark import registry
from distributed_mapreduce__spark.session import build_session

# Headline set: at least one query per capability area. Membership is
# FROZEN across rounds so totals stay comparable.
HEADLINE = [
    "wordcount_full",
    "wordcount_topk",
    "wordcount_salted",
    "pricing_summary",
    "revenue_by_nation",
    "topk_parts_per_brand",
    "sql_unshipped_revenue",
    "quantile_quantity",
    "customer_order_timeline",
    "dedup_exact",
    "dedup_minhash_pairs",
    "similarity_topk",
    "similarity_topk_lsh_multiprobe",
    "text_quality",
    "doc_winnow",
    "events_tumbling",
    "events_sessions",
    "events_asof_orders",
]

PASSES = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))
SPREAD_BOUND = float(os.environ.get("SPARK_GRAFT_BENCH_SPREAD", "0.5"))
EXTRA_PASSES = int(os.environ.get("SPARK_GRAFT_BENCH_EXTRA_PASSES", "2"))

#: tables profiled into the routing-hint sidecar dir before timing,
#: with the group columns whose max group size the quantile route
#: reads. Only tables a HEADLINE query actually consumes hints from
#: belong here (the set is frozen, so today that is quantile_quantity's
#: lineitem max-group probe) — profiling unconsumed tables would just
#: tax the setup phase.
PROFILE_TABLES = {
    "lineitem": ["l_returnflag"],
}


IDLE_LOAD = float(os.environ.get("SPARK_GRAFT_BENCH_IDLE_LOAD", "2.0"))

#: Round-16 contended-run guard (VERDICT r15 #3): when the finished
#: timing pass comes out contended, re-run the WHOLE timed section up
#: to this many extra times (waiting for idle in between) before
#: giving up; a run that stays contended is stamped "invalid": true so
#: PERF comparisons stop ingesting poisoned totals. Additions-only:
#: the one-line JSON contract, the timed methodology, and every
#: existing field are unchanged.
RUN_RETRIES = int(os.environ.get("SPARK_GRAFT_BENCH_RUN_RETRIES", "1"))

#: Mid-run contention threshold for the 1-min load sampled after each
#: query. Calibrated round 9 on the current kernel: three bench runs
#: started from a truly cold box (1-min load 0.06-0.19) all peaked at
#: 7.1-7.4 own-load (the 32-thread query bursts plus IO-flush kworkers
#: both count toward loadavg), while r8's known outside ramp reached
#: 9.6. So ≥8 means an outside process joined mid-run and the
#: per-query timings are suspect even if the box was idle at the start
#: (VERDICT r8 #4: the start-only stamp claimed contended=false while
#: the back half ran under load 7.6-9.6).
IDLE_LOAD_HI = float(os.environ.get("SPARK_GRAFT_BENCH_IDLE_LOAD_HI", "8.0"))
IDLE_RETRIES = int(os.environ.get("SPARK_GRAFT_BENCH_IDLE_RETRIES", "10"))
IDLE_WAIT_SEC = float(os.environ.get("SPARK_GRAFT_BENCH_IDLE_WAIT_SEC", "30"))

#: Outside-CPU ceiling for the /proc/stat probe sampled BETWEEN
#: queries, when the bench's own JVM is quiescent: more than this many
#: CPUs busy at a between-query instant means another process is
#: running. This closes the r9 gap the 1-min loadavg ceiling cannot:
#: loadavg carries the bench's OWN 32-thread bursts (idle-box runs
#: peak 7.1-7.4), so an outside ramp hiding just under IDLE_LOAD_HI
#: (r9: 7.96 vs the 8.0 ceiling) passed as idle. The instantaneous
#: probe sees ~0 on a truly idle box regardless of what the bench just
#: ran (after BUSY_SETTLE_SEC for GC/kworker tails), so its threshold
#: can sit far below any plausible contention instead of one hair
#: above the bench's own noise.
BUSY_HI = float(os.environ.get("SPARK_GRAFT_BENCH_BUSY_HI", "3.0"))
BUSY_SETTLE_SEC = float(os.environ.get("SPARK_GRAFT_BENCH_BUSY_SETTLE_SEC", "1.0"))
BUSY_WINDOW_SEC = 0.3


def outside_busy() -> float:
    """CPUs busy right now, from two /proc/stat snapshots
    BUSY_WINDOW_SEC apart (after a settle sleep so the just-finished
    query's GC/IO-flush tail drains). Called only between queries,
    when the bench itself runs nothing — whatever is busy is outside
    load."""
    def snap():
        with open("/proc/stat") as fh:
            vals = list(map(int, fh.readline().split()[1:]))
        return sum(vals), vals[3] + vals[4]  # total, idle+iowait

    time.sleep(BUSY_SETTLE_SEC)
    t0, i0 = snap()
    time.sleep(BUSY_WINDOW_SEC)
    t1, i1 = snap()
    dt = t1 - t0
    if dt <= 0:
        return 0.0
    return (dt - (i1 - i0)) / dt * (os.cpu_count() or 1)


def contended_stamp(
    load_start: float,
    query_loads: "dict[str, float]",
    query_busys: "dict[str, float]",
    idle_load: float = IDLE_LOAD,
    load_hi: float = IDLE_LOAD_HI,
    busy_hi: float = BUSY_HI,
) -> "tuple[bool, str | None]":
    """(contended, note) for the whole run — pure, unit-tested
    (tests/test_bench_stamp.py). Contended iff the idle wait was
    exhausted at start, OR the 1-min load at any per-query sample
    point exceeded what the bench itself can generate, OR the
    between-query /proc/stat probe caught outside CPUs burning."""
    if load_start >= idle_load:
        return True, (
            f"box under load ({load_start:.1f} at start, idle wait "
            "exhausted) — timings are contended; rerun idle before "
            "comparing across rounds"
        )
    if query_loads and max(query_loads.values()) >= load_hi:
        return True, (
            f"outside load ramped to {max(query_loads.values()):.1f} "
            f"mid-run (own-load ceiling {load_hi}) — per-query timings "
            "in the affected stretch are contended; rerun idle before "
            "comparing across rounds"
        )
    if query_busys and max(query_busys.values()) >= busy_hi:
        worst = max(query_busys, key=query_busys.get)
        return True, (
            f"{query_busys[worst]:.1f} outside CPUs busy at the "
            f"between-query probe before {worst!r} (ceiling {busy_hi}) "
            "— another process ran mid-bench; rerun idle before "
            "comparing across rounds"
        )
    return False, None


def validity_stamp(contended: bool, attempts: int) -> dict:
    """Artifact fields for the contended-run guard — pure, unit-tested
    (tests/test_bench_stamp.py). A run that is still contended after
    its bounded retries carries an explicit ``"invalid": true`` so
    downstream PERF comparisons can refuse the total instead of
    silently ingesting load noise (rounds 14/15 both shipped poisoned
    32-core headline totals)."""
    out: dict = {"timed_attempts": attempts}
    if contended:
        out["invalid"] = True
    return out


def wait_for_idle() -> float:
    """Block until the 1-min load drops below IDLE_LOAD (or retries run
    out); returns the final load. Progress goes to stderr so stdout
    stays one parseable JSON line."""
    load = os.getloadavg()[0]
    for attempt in range(IDLE_RETRIES):
        if load < IDLE_LOAD:
            break
        print(
            f"bench: load {load:.1f} >= {IDLE_LOAD} — waiting "
            f"{IDLE_WAIT_SEC:.0f}s ({attempt + 1}/{IDLE_RETRIES})",
            file=sys.stderr,
        )
        time.sleep(IDLE_WAIT_SEC)
        load = os.getloadavg()[0]
    return load


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([\d.]+)$", os.path.basename(sf_dir.rstrip("/")))
    sf = m.group(1) if m else ""
    load_start = wait_for_idle()
    spark = build_session(app_name="bench")
    registry.load_all()

    # The headline set is frozen for cross-round comparability, but
    # tier membership is not: a query demoted from the driver's 50-cap
    # to the local tier (registry.register_local) must keep its bench
    # number, so resolve names across both tiers.
    lookup = {**registry.LOCAL_QUERIES, **registry.QUERIES}
    names = [n for n in HEADLINE if n in lookup]

    # Routing-hint sidecars (setup, not timed): profile once, point the
    # env var at the sidecars, and every auto front door in the timed
    # loop routes from metadata instead of running estimation jobs.
    profiled = False
    if not os.environ.get("SPARK_GRAFT_PROFILE_DIR"):
        import tempfile

        from distributed_mapreduce__spark.operators.profile import save_profile
        from distributed_mapreduce__spark.sources.tables import load_table

        prof_dir = tempfile.mkdtemp(prefix="bench_profiles_")
        for table, gcols in PROFILE_TABLES.items():
            save_profile(
                load_table(spark, sf_dir, table),
                os.path.join(prof_dir, table),
                group_count_cols=gcols,
            )
        os.environ["SPARK_GRAFT_PROFILE_DIR"] = prof_dir
        profiled = True

    # Warm the JVM + parquet footers once so timings measure the queries.
    lookup[names[0]](spark, sf_dir).count()

    def rel_spread(xs: list) -> float:
        med = statistics.median(xs)
        return (max(xs) - min(xs)) / med if med > 0 else 0.0

    def time_queries():
        """One full timed pass over the headline set — 3-pass medians
        with bounded extra passes, the same methodology every round."""
        timings: dict[str, float] = {}
        q_load: dict[str, float] = {}
        q_busy: dict[str, float] = {}
        q_spread: dict[str, float] = {}
        for name in names:
            q_load[name] = round(os.getloadavg()[0], 2)
            q_busy[name] = round(outside_busy(), 2)
            samples = []
            for _ in range(PASSES):
                t0 = time.perf_counter()
                df = lookup[name](spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                samples.append(time.perf_counter() - t0)
            # an outlier pass (GC, a load spike) blows the spread — buy
            # it back with bounded extra passes before taking the median
            extra = 0
            while (
                len(samples) >= 3
                and rel_spread(samples) > SPREAD_BOUND
                and extra < EXTRA_PASSES
            ):
                t0 = time.perf_counter()
                df = lookup[name](spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                samples.append(time.perf_counter() - t0)
                extra += 1
            timings[name] = round(statistics.median(samples), 3)
            q_spread[name] = round(rel_spread(samples), 3)
        return timings, q_load, q_busy, q_spread

    # contended-run guard (round 16): a timed pass that comes out
    # contended is re-run after a fresh idle wait (bounded); a run that
    # stays contended carries an explicit invalid stamp
    attempts = 0
    while True:
        attempts += 1
        timings, q_load, q_busy, q_spread = time_queries()
        contended, load_note = contended_stamp(load_start, q_load, q_busy)
        if not contended or attempts > RUN_RETRIES:
            break
        print(
            f"bench: timed pass {attempts} contended ({load_note}) — "
            f"waiting for idle and re-running "
            f"({attempts}/{RUN_RETRIES} retries used)",
            file=sys.stderr,
        )
        load_start = wait_for_idle()

    # Round-6 operator families (WARC-era additions: substring dedup,
    # BPE, ANN index, PageRank, Bloom decontamination, JL projection,
    # fuzzy join, rollup store) — measured ONCE per run at the same sf
    # via scripts/bench_r6_ops.measure, so regressions in the new
    # families surface in the committed artifact, not only in the
    # original 18. Single-pass (indicative, not median); the headline
    # total above stays frozen and excludes these. Disable with
    # SPARK_GRAFT_BENCH_NEW_OPS=0.
    new_ops: dict[str, float] = {}
    if os.environ.get("SPARK_GRAFT_BENCH_NEW_OPS", "1") != "0":
        import importlib.util
        import tempfile

        tmp = tempfile.mkdtemp(prefix="bench_new_ops_")
        for script in ("bench_r6_ops.py", "bench_r7_ops.py",
                       "bench_r9_ops.py", "bench_r11_ops.py",
                       "bench_r12_ops.py", "bench_r13_ops.py",
                       "bench_r14_ops.py", "bench_r15_ops.py"):
            spec = importlib.util.spec_from_file_location(
                script[:-3], os.path.join(REPO, "scripts", script)
            )
            mod = importlib.util.module_from_spec(spec)
            spec.loader.exec_module(mod)
            new_ops.update(mod.measure(spark, sf_dir, tmp))

    total = round(sum(timings.values()), 3)
    load_end = os.getloadavg()[0]
    # contended covers the WHOLE final timed pass: idle-wait exhausted
    # at start, OR outside load ramping past what the bench itself
    # generates at any per-query loadavg sample, OR the between-query
    # /proc/stat probe catching outside CPUs busy while the bench
    # itself was quiescent (stamp computed inside the retry loop above)
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf else None,
        "passes": PASSES,
        "load_start": round(load_start, 2),
        "load_end": round(load_end, 2),
        "query_load": q_load,
        "query_busy": q_busy,
        "query_spread": q_spread,
        "profile_sidecars": profiled,
        "contended": contended,
    }
    out.update(validity_stamp(contended, attempts))
    if new_ops:
        out["new_ops"] = new_ops
        out["new_ops_total"] = round(sum(new_ops.values()), 3)
    if load_note is not None:
        out["load_note"] = load_note
    # The driver captures only a bounded stdout TAIL and parses the
    # last JSON line; the full dict outgrew that window in round 7
    # (BENCH_r07.json "parsed": null). So: full provenance to the
    # artifact file, compact headline as the final stdout line.
    artifact = os.environ.get(
        "SPARK_GRAFT_BENCH_ARTIFACT", os.path.join(REPO, "bench_artifact.json")
    )
    with open(artifact, "w") as fh:
        json.dump(out, fh, indent=1)
    headline = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "queries": timings,
        "sf": out["sf"],
        "passes": PASSES,
        "load_start": out["load_start"],
        "contended": out["contended"],
        "artifact": artifact,
    }
    if new_ops:
        headline["new_ops_total"] = out["new_ops_total"]
    if out.get("invalid"):
        headline["invalid"] = True
    print(json.dumps(headline))
    spark.stop()


if __name__ == "__main__":
    main()
