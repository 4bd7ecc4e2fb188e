"""One fresh process of the program: set up, run the workload's pass a
fixed number of times, record what every op cost and returned, exit.

    python3 perfbench/worker.py <workload> <inputs_dir> <work_dir> <mode> <passes>

``mode`` is ``run`` or ``trace`` (``run`` with a span around every
layer call). ``run.py``
starts it with the environment it needs and reads
``<work_dir>/worker.json`` and ``<work_dir>/results.pkl`` afterwards;
every result check happens there, after this process has exited.

Each op of a pass (a query, a corpus operator, a table commit) is timed
on its own: CPU seconds of the whole process tree and wall seconds.
"""

from __future__ import annotations

import json
import os
import pickle
import sys
import time
import traceback

from inputs import HEADLINE, TOP_K, txn_ops
from procfs import host_cpu, host_delta, tree_cpu
from spans import Counters, Tracer, delta, process_counters


class Ops:
    """Per-op CPU and wall samples and failures, with a span around each op."""

    def __init__(self, tracer: Tracer, deadline: float):
        self.tracer = tracer
        self.deadline = deadline
        self.pid = os.getpid()
        self.samples: dict[str, list[dict]] = {}
        self.failed: dict[str, str] = {}
        self.calls: dict[str, int] = {}
        self.attempted = 0
        self.pass_no = 0

    def run(self, name: str, fn, new_op: bool = True):
        """Run one op (or, with ``new_op=False``, the next step of the
        current one); a failure is keyed ``<name>#<occurrence>``."""
        self.attempted += new_op
        key = f"{name}#{self.calls.get(name, 0)}"
        self.calls[name] = self.calls.get(name, 0) + 1
        if time.perf_counter() > self.deadline:
            self.failed[key] = "not started before the deadline"
            return None
        cpu0, t0, m0 = tree_cpu(self.pid)["total"], time.perf_counter(), time.monotonic()
        try:
            with self.tracer.span(name):
                return fn()
        except Exception:  # an op that raises is a failed op, not a crash
            self.failed[key] = traceback.format_exc(limit=3)
            return None
        finally:
            wall = time.perf_counter() - t0
            self.samples.setdefault(name, []).append({
                "pass": self.pass_no, "wall_s": wall,
                "cpu_s": tree_cpu(self.pid)["total"] - cpu0,
                "t0": m0, "t1": time.monotonic()})


# --- workloads: setup(spark, inputs, work) -> ctx
#                one_pass(spark, ctx, ops, p) -> results of pass p
#                finish(spark, ctx, ops) -> results, after the last pass


def batch_setup(spark, inp, work):
    from distributed_mapreduce__spark.operators.profile import save_profile
    from distributed_mapreduce__spark.sources.tables import load_table

    prof_dir = os.path.join(work, "profiles")
    # the routing-hint sidecars bench.py builds before its timed loop
    save_profile(load_table(spark, inp, "lineitem"),
                 os.path.join(prof_dir, "lineitem"), group_count_cols=["l_returnflag"])
    os.environ["SPARK_GRAFT_PROFILE_DIR"] = prof_dir
    return {"sf_dir": inp, "docs": os.path.join(inp, "corpus.parquet"), "work": work}


def prepared_dir(work: str, p: int) -> str:
    return os.path.join(work, f"prepared_{p}")


def batch_pass(spark, ctx, ops, p):
    from pyspark.sql import functions as F

    from distributed_mapreduce__spark import registry
    from distributed_mapreduce__spark.operators.corpus import prepare_corpus
    from distributed_mapreduce__spark.operators.text_analysis import compression_ratio
    from distributed_mapreduce__spark.operators.wordcount import top_k_words

    docs = spark.read.parquet(ctx["docs"])
    res = {}
    res["topk"] = ops.run("corpus.topk", lambda: [
        (r.word, r.cnt) for r in top_k_words(docs, "text", k=TOP_K).collect()])
    ops.run("corpus.prepare", lambda: prepare_corpus(docs).write.parquet(
        prepared_dir(ctx["work"], p)))
    res["compressed_len"] = ops.run("corpus.compress", lambda: compression_ratio(
        docs).agg(F.sum("compressed_len")).collect()[0][0])
    res["queries"] = {}
    for q in HEADLINE:
        df = ops.run(f"headline.{q}.construct",
                     lambda: registry.resolve(q)(spark, ctx["sf_dir"]))
        if df is None:
            continue
        rows = ops.run(f"headline.{q}.exec", lambda: df.collect(), new_op=False)
        if rows is not None:
            res["queries"][q] = (df.columns, [tuple(r) for r in rows])
    return res


def batch_after(spark, ctx, res):
    """Outside the timed section: the oracle SQL the checks run in DuckDB."""
    from distributed_mapreduce__spark import registry

    res["oracles"] = {q: registry.resolve_oracle(q) for q in HEADLINE}


def txn_setup(spark, inp, work):
    from distributed_mapreduce__spark.sources.txlog import tx_write
    from distributed_mapreduce__spark.streaming.table_stream import pipe_available_now

    ctx = {"in": inp, "src": os.path.join(work, "src"),
           "dst": os.path.join(work, "dst"), "ckpt": os.path.join(work, "ckpt"),
           "written": {}}
    tx_write(spark.read.parquet(os.path.join(ctx["in"], "seed.parquet")), ctx["src"])
    pipe_available_now(spark, ctx["src"], ctx["dst"], checkpoint=ctx["ckpt"],
                       cdc_key="row_id")
    return ctx


def txn_commit(ops, ctx, name, fn):
    """A mutating op; traced runs then list every file the table has had
    so far (vacuum deletes files and old commits later)."""
    ops.run(name, fn)
    if ops.tracer.enabled:
        for sub in ("data", "_deletes", "_dv", "_cdf", "_txlog"):
            d = os.path.join(ctx["src"], sub)
            for e in os.scandir(d) if os.path.isdir(d) else ():
                ctx["written"].setdefault(e.path, e.stat().st_size)


def txn_pass(spark, ctx, ops, c):
    """One churn cycle, replicated by one pipe tick."""
    from pyspark.sql import functions as F

    from distributed_mapreduce__spark.sources.txlog import (
        tx_apply_deletes, tx_delete_where, tx_merge, tx_read, tx_update, tx_write)
    from distributed_mapreduce__spark.streaming.table_stream import pipe_available_now

    src, dst, inp = ctx["src"], ctx["dst"], ctx["in"]
    sql = txn_ops(c)
    txn_commit(ops, ctx, "tx.append", lambda: tx_write(
        spark.read.parquet(f"{inp}/append_{c}.parquet"), src))
    txn_commit(ops, ctx, "tx.update", lambda: tx_update(
        spark, src, sql["update_where"], sql["update_set"]))
    txn_commit(ops, ctx, "tx.delete", lambda: tx_delete_where(
        spark, src, sql["delete_where"]))
    txn_commit(ops, ctx, "tx.apply_deletes", lambda: tx_apply_deletes(spark, src))
    txn_commit(ops, ctx, "tx.merge", lambda: tx_merge(
        spark.read.parquet(f"{inp}/merge_{c}.parquet"), src, "row_id"))
    read = ops.run("tx.read", lambda: sorted(
        tuple(r) for r in tx_read(spark, src).groupBy("l_returnflag").agg(
            F.count("*"), F.sum("l_quantity"), F.sum("l_extendedprice")).collect()))
    tick = ops.run("pipe.tick", lambda: pipe_available_now(
        spark, src, dst, checkpoint=ctx["ckpt"], cdc_key="row_id"))
    return {"read": read, "cursor": (tick or {}).get("cursor")}


def txn_finish(spark, ctx, ops):
    from distributed_mapreduce__spark.sources.txlog import tx_compact, tx_vacuum

    txn_commit(ops, ctx, "tx.compact", lambda: tx_compact(spark, ctx["src"]))
    ops.run("tx.vacuum", lambda: tx_vacuum(spark, ctx["src"]))
    written = ctx["written"]
    commits = {p: n for p, n in written.items() if os.path.basename(
        os.path.dirname(p)) == "_txlog" and p.endswith(".json") and "checkpoint" not in p}
    return {"data_bytes_written": sum(written.values()) - sum(commits.values()),
            "log_bytes_per_commit": sum(commits.values()) / max(1, len(commits))}


def txn_after(spark, ctx, res):
    """Outside the timed section: snapshots for the checks, table shape."""
    from distributed_mapreduce__spark.sources.txlog import tx_detail, tx_read

    for side in ("src", "dst"):
        res[side] = tx_read(spark, ctx[side]).toPandas()
    det = tx_detail(spark, ctx["src"])
    on_disk = sum(os.path.getsize(os.path.join(d, f))
                  for d, _, fs in os.walk(ctx["src"]) for f in fs)
    res["table"] = {
        "version": det["version"],
        "live_files": det["num_files"],
        "space_amp": on_disk / max(1, det["size_bytes"]),
    }


WORKLOADS = {
    "batch": (batch_setup, batch_pass, None, batch_after),
    "txn_churn": (txn_setup, txn_pass, txn_finish, txn_after),
}


def main() -> None:
    workload, inp, work, mode, passes = sys.argv[1:6]
    passes, trace = int(passes), mode == "trace"
    spawn_t = float(os.environ["PERFBENCH_SPAWN_T"])  # time.monotonic() at spawn
    steal0 = host_cpu()["steal"]
    deadline_s = float(os.environ["PERFBENCH_DEADLINE_S"])
    setup, one_pass, finish, after = WORKLOADS[workload]

    from distributed_mapreduce__spark import registry
    from distributed_mapreduce__spark.session import build_session

    before, t0 = process_counters(os.getpid()), time.perf_counter()
    spark = build_session(app_name=f"perfbench-{workload}")
    t1 = time.perf_counter()
    counters = Counters(spark)
    tracer = Tracer(counters, f"{workload}-{os.getpid()}", trace, t0)
    if trace:
        tracer.add("session.start", t0, t1, delta(before, counters.read()))
    with tracer.span("registry.load_all"):
        registry.load_all()
    with tracer.span(f"setup.{workload}"):
        ctx = setup(spark, inp, work)
    setup_end, start = time.monotonic(), time.perf_counter()
    setup_steal = host_cpu()["steal"] - steal0

    c0, h0, cpu0 = counters.read(), host_cpu(), tree_cpu(os.getpid())
    ops = Ops(tracer, start + deadline_s)
    res = {"passes": []}
    with tracer.span("timed"):
        for p in range(passes):
            ops.pass_no = p
            with tracer.span("pass"):
                res["passes"].append(one_pass(spark, ctx, ops, p))
        ops.pass_no = passes
        if finish is not None:
            res.update(finish(spark, ctx, ops))
    wall = time.perf_counter() - start
    cpu1, h1 = tree_cpu(os.getpid()), host_cpu()
    c1 = counters.read()

    after(spark, ctx, res)
    cpu_s = cpu1["total"] - cpu0["total"]
    record = {
        "workload": workload,
        "mode": mode,
        "passes": passes,
        "setup_s": setup_end - spawn_t,
        "setup_window": [spawn_t, setup_end],
        "setup_steal_s": setup_steal,
        "session_s": t1 - t0,
        "wall_s": wall,
        "cpu_s": cpu_s,
        "counters": delta(c0, c1),
        "host": host_delta(h0, h1, cpu_s),
        "samples": ops.samples,
        "attempted": ops.attempted,
        "op_failures": ops.failed,
        "spans": tracer.spans,
        "self_times": tracer.self_times() if trace else {},
    }
    with open(os.path.join(work, "results.pkl"), "wb") as fh:
        pickle.dump(res, fh)
    with open(os.path.join(work, "worker.json"), "w") as fh:
        json.dump(record, fh)
    os._exit(0)  # run.py kills the JVM; a clean stop only costs time


if __name__ == "__main__":
    main()
