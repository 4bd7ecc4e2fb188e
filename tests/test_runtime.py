"""Runtime-guarantee parity tests (SURVEY.md §2.3, §5.4).

The reference injects worker crashes (5%/iteration, worker/worker.go:
36-39) and re-executes timed-out tasks (master/master.go:111-117); Spark
provides task retry + speculation. We assert the *guarantee*: a job with
injected task failures still yields the correct result.
"""

from __future__ import annotations

import pytest

import json
import subprocess
import sys
import urllib.request

from distributed_mapreduce__spark.runtime.progress import (
    progress_snapshot,
    serve_dashboard,
)

# Runs in a subprocess: task retry needs maxFailures>1, which is fixed at
# SparkContext creation (local[threads,maxFailures]) — can't reuse the
# shared test session.
FAULT_INJECTION_JOB = r"""
import pandas as pd
from pyspark import TaskContext
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

spark = (SparkSession.builder.master("local[4,3]")  # 3 attempts per task
         .config("spark.ui.enabled", "false").getOrCreate())

def flaky(batches):
    ctx = TaskContext.get()
    # Reference parity (worker/worker.go:36-39): first attempt of
    # partition 0 "crashes"; the retry must succeed and not duplicate.
    if ctx.attemptNumber() == 0 and ctx.partitionId() == 0:
        raise RuntimeError("injected worker crash")
    yield from batches

df = spark.range(0, 1000, 1, 8).toDF("id")
total = df.mapInPandas(flaky, "id long").agg(F.sum("id")).collect()[0][0]
assert total == 499500, f"wrong result after retry: {total}"
print("RETRY_OK", total)
"""


@pytest.mark.slow  # round-16 tier: driver-window default excludes it
def test_task_retry_yields_exact_result():
    proc = subprocess.run(
        [sys.executable, "-c", FAULT_INJECTION_JOB],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "RETRY_OK 499500" in proc.stdout


def test_local_threads_default_to_the_cpus_the_process_may_use(
    monkeypatch,
):
    import os

    from distributed_mapreduce__spark.session import default_parallelism

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_parallelism() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_parallelism() == 3


def test_speculation_enabled_in_engine_session(spark):
    # R4 parity knob (straggler re-execution) is on by default.
    assert spark.conf.get("spark.speculation") == "true"


def test_progress_snapshot_shape(spark):
    snap = progress_snapshot(spark)
    # "pipes" appears only while/after a run_pipes loop has state
    # (streaming/table_stream.PIPES_STATUS is a module-level export)
    assert set(snap) - {"pipes"} == {
        "app_id",
        "active_jobs",
        "active_stages",
        "progress_pct",
        "default_parallelism",
    }
    assert snap["progress_pct"] == 100.0  # idle → complete


def test_dashboard_data_endpoint(spark):
    with serve_dashboard(spark, port=0) as port:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/data", timeout=10) as r:
            body = json.loads(r.read())
    assert body["app_id"] == spark.sparkContext.applicationId
    assert "progress_pct" in body
