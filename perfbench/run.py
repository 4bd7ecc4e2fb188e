#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. One run:

1. generates the workload's inputs from ``--seed`` in this process;
2. starts the program in a fresh Python process (``worker.py``), so no
   run ever times a JVM that an earlier run has warmed; it sets up and
   runs the workload's pass ``passes(workload, --seconds)`` times, each
   op timed on its own, while this process samples the summed RSS of
   its process tree from outside;
3. checks every pass's results against an oracle once the process has
   exited;
4. prints one JSON line: ``correct``, ``attempted``, ``failed`` and
   ``metrics`` — the end-to-end metrics with ``--trace 0``, the
   per-layer metrics (from spans around every layer call) with
   ``--trace 1``.

An op not started within ``DEADLINE_FACTOR * --seconds`` of the first
pass's start counts as failed. The full record of every run (per-op
samples, spans, counters, host noise, failures) is written to
``.perfbench/out/``. All per-run state lives under ``.perfbench/run/``
and is removed at the end.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import pickle
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402
import layers  # noqa: E402
from procfs import read_stats, tree_rss_mb  # noqa: E402

DEADLINE_FACTOR = 4
#: the whole run, generation and checks included, stays under this
RUN_BUDGET_S = 170
RSS_SAMPLE_S = 0.25
#: seconds one pass takes on a 4-vCPU host, the cold first pass and the
#: warm ones averaged
PASS_S = {"batch": 15.0, "txn_churn": 12.0}
MIN_PASSES = 2


def passes(workload: str, seconds: int) -> int:
    """How many passes a run of ``seconds`` makes: fixed by the workload
    and ``--seconds`` alone, so every run of both does the same work."""
    return max(MIN_PASSES, int(seconds // PASS_S[workload]))


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def worker_env(root: str, state: str, seconds: int) -> dict:
    tmp = os.path.join(state, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join([root, HERE]),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # keep every file Spark and the JVM write inside the run's state
        "SPARK_LOCAL_DIRS": os.path.join(state, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PERFBENCH_DEADLINE_S": str(DEADLINE_FACTOR * seconds),
    })
    env.pop("SPARK_GRAFT_PROFILE_DIR", None)
    return env


def session_pids(sid: int) -> list[int]:
    """Live processes of session ``sid``; the Python UDF daemon the JVM
    forks moves to a process group of its own but stays in the session.
    Zombies are dead already and are not counted."""
    return [p for p, st in read_stats().items()
            if st["session"] == sid and st["state"] != "Z"]


def launch(workload: str, inp: str, work: str, mode: str, n_passes: int, env: dict,
           budget_s: float) -> dict:
    """Run ``worker.py`` to completion in its own session; return its
    record with ``peak_rss_mb`` and the pickled results added. Every
    process of the session is gone when this returns."""
    os.makedirs(work)
    log = open(os.path.join(work, "worker.log"), "w")
    probe_out = os.path.join(work, "probe.json")
    probe = subprocess.Popen([sys.executable, os.path.join(HERE, "hostprobe.py"), probe_out])
    proc, peak = None, 0.0
    try:
        env = dict(env, PERFBENCH_SPAWN_T=repr(time.monotonic()))
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), workload, inp, work,
             mode, str(n_passes)],
            cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True)
        deadline = time.monotonic() + budget_s
        while proc.poll() is None and time.monotonic() < deadline:
            peak = max(peak, tree_rss_mb(proc.pid))
            time.sleep(RSS_SAMPLE_S)
    finally:
        # the worker leaves its JVM and Python daemon behind on purpose:
        # all their state is under the run's state directory
        end = time.monotonic() + 20
        while proc is not None and (proc.poll() is None or session_pids(proc.pid)) \
                and time.monotonic() < end:
            for pid in session_pids(proc.pid):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.1)
        if proc is not None:
            proc.wait()
        log.close()
        probe.terminate()
        probe.wait()
    out = os.path.join(work, "worker.json")
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log.name) as fh:
            tail = fh.read()[-3000:]
        fail(f"{workload} worker exited with {proc.returncode}:\n{tail}")
    with open(out) as fh:
        rec = json.load(fh)
    rec["peak_rss_mb"] = peak
    with open(probe_out) as fh:
        rec["probe"] = json.load(fh)
    with open(os.path.join(work, "results.pkl"), "rb") as fh:
        rec["results"] = pickle.load(fh)
    return rec


def failures(workload: str, rec: dict, oracle: dict, inp: str, work: str) -> dict:
    """``{op key: reason}``: ops that raised, plus results that failed
    their check. A headline query's construct and exec are one op."""
    bad = {}
    for key, why in rec["op_failures"].items():
        name, occ = key.rsplit("#", 1)
        if name.startswith("headline."):
            name = name.rsplit(".", 1)[0]
        bad[f"{name}#{occ}"] = why
    for key, why in checks.CHECKS[workload](rec["results"], oracle, inp, work).items():
        bad.setdefault(key if "#" in key else f"{key}#0", why)
    return bad


def record_path(out_dir: str, workload: str, seed: int, trace: int) -> str:
    return os.path.join(out_dir, f"{workload}-seed{seed}-trace{trace}.json")


def untraced_record(out_dir: str, workload: str, seed: int) -> dict | None:
    """The untraced record of the same seed, else the newest of the
    workload (seeds change content, not volume or plans)."""
    same = record_path(out_dir, workload, seed, 0)
    paths = [same] if os.path.exists(same) else sorted(
        glob.glob(os.path.join(out_dir, f"{workload}-seed*-trace0.json")),
        key=os.path.getmtime)[-1:]
    for path in paths:
        try:
            with open(path) as fh:
                return json.load(fh)
        except (OSError, ValueError):
            pass
    return None


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(inputs.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.monotonic()
    # SIGTERM, and SIGINT even where the shell started this in the
    # background with SIGINT ignored, unwind through every ``finally``,
    # which stops the processes this run started
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, lambda signum, _frame: sys.exit(128 + signum))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "distributed_mapreduce__spark", "__init__.py")):
        fail(f"no distributed_mapreduce__spark package under {root}; "
             "run from the root of a source checkout")
    out_dir = os.path.join(root, ".perfbench", "out")
    state = os.path.join(root, ".perfbench", "run",
                         f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(state)
    inp = os.path.join(state, "inputs")
    n_passes = passes(args.workload, args.seconds)
    base = untraced_record(out_dir, args.workload, args.seed) if args.trace else None
    if base is not None and base.get("passes") != n_passes:
        base = None
    phases = {}
    try:
        oracle = inputs.generate(args.workload, args.seed, inp, n_passes)
        phases["generate_s"] = time.monotonic() - t_start
        env = worker_env(root, state, args.seconds)

        def run_once(mode: str) -> tuple[dict, str]:
            budget = RUN_BUDGET_S - (time.monotonic() - t_start)
            work = os.path.join(state, mode)
            return launch(args.workload, inp, work, mode, n_passes, env, budget), work

        if args.trace and base is None:
            # the trace check needs an untraced run over the same inputs
            base, _ = run_once("run")
        t = time.monotonic()
        rec, work = run_once("trace" if args.trace else "run")
        phases["worker_s"] = time.monotonic() - t
        t = time.monotonic()
        bad = failures(args.workload, rec, oracle, inp, work)
        extra = layers.state_metrics(args.workload, rec, work)
        phases["check_s"] = time.monotonic() - t
    finally:
        shutil.rmtree(state, ignore_errors=True)

    record = {k: v for k, v in rec.items() if k != "results"}
    phases["run_s"] = time.monotonic() - t_start
    record.update(seed=args.seed, failures=bad, state_metrics=extra, phases=phases,
                  end_to_end=layers.end_to_end(rec, len(os.sched_getaffinity(0))))
    attempted = rec["attempted"]
    if args.trace:
        # zero added jobs: the traced pass must launch exactly the jobs an
        # untraced pass of the same inputs launched
        record["trace_check"] = layers.trace_check(rec, base)
        attempted += 1
        if not record["trace_check"]["ok"]:
            bad["trace.jobs#0"] = record["trace_check"]["why"]
        metrics = layers.per_layer(args.workload, rec, extra)
    else:
        metrics = record["end_to_end"]
    with open(record_path(out_dir, args.workload, args.seed, args.trace), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    for key, why in sorted(bad.items()):
        print(f"perfbench: FAILED {key}: {why.strip().splitlines()[-1][:300]}",
              file=sys.stderr)
    print(json.dumps({
        "correct": not bad,
        "attempted": attempted,
        "failed": len(bad),
        "metrics": {k: {"value": v, "unit": layers.UNITS[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
