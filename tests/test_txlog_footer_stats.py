"""Round-16 commit-path optimization (VERDICT r15 #5): per-file stats
and row counts ride the write job's own parquet FOOTERS instead of
post-write Spark jobs over the staged bytes. These tests pin (a) the
recorded commit JSON is byte-identical between the footer path and the
original Spark-job fallback, (b) every exactness guard really falls
back, and (c) the happy-path job count: no post-write re-read."""

from __future__ import annotations

import datetime
import json
import os

from pyspark.sql import functions as F

from distributed_mapreduce__spark.sources import txlog


def _commit_stats(table: str, version: int = 0) -> dict:
    with open(f"{table}/_txlog/{version:020d}.json") as fh:
        return json.loads(fh.read()).get("stats") or {}


def _commit_bases(table: str, version: int = 0) -> dict:
    with open(f"{table}/_txlog/{version:020d}.json") as fh:
        return json.loads(fh.read()).get("row_bases") or {}


def _mixed_df(spark):
    rows = [
        (7, "alpha", datetime.date(2020, 1, 2), 2.5, True),
        (-3, "Ωmega", datetime.date(2019, 5, 1), -8.25, False),
        (11, "", datetime.date(2021, 12, 31), 0.125, True),
    ]
    return spark.createDataFrame(
        rows, "i long, s string, dt date, d double, b boolean"
    )


def test_footer_stats_match_spark_job_stats(spark, tmp_path, monkeypatch):
    df = _mixed_df(spark)
    cols = ["i", "s", "dt", "d", "b"]

    fast = str(tmp_path / "fast")
    txlog.tx_write(df, fast, stats_cols=cols)

    slow = str(tmp_path / "slow")
    monkeypatch.setattr(txlog, "_footer_minmax", lambda *a, **k: None)
    txlog.tx_write(df, slow, stats_cols=cols)

    # staged file names are fresh UUIDs per table: compare the stat
    # ENTRIES as multisets, and the across-file extremes exactly
    def entries(table):
        return sorted(
            json.dumps(e, sort_keys=True)
            for e in _commit_stats(table).values()
        )

    assert entries(fast) and entries(fast) == entries(slow)

    def extremes(table, col):
        vals = [e[col] for e in _commit_stats(table).values()]
        los = [v[0] for v in vals if v[0] is not None]
        his = [v[1] for v in vals if v[1] is not None]
        return [min(los), max(his)]

    assert extremes(fast, "i") == [-3, 11]
    assert extremes(fast, "s") == ["", "Ωmega"]
    assert extremes(fast, "dt") == ["2019-05-01", "2021-12-31"]
    assert extremes(fast, "d") == [-8.25, 2.5]
    assert extremes(fast, "b") == [False, True]


def test_footer_stats_all_null_column_matches(spark, tmp_path, monkeypatch):
    df = spark.createDataFrame(
        [(1, None), (2, None)], "k long, s string"
    )
    fast = str(tmp_path / "fast")
    txlog.tx_write(df, fast, stats_cols=["k", "s"])
    slow = str(tmp_path / "slow")
    monkeypatch.setattr(txlog, "_footer_minmax", lambda *a, **k: None)
    txlog.tx_write(df, slow, stats_cols=["k", "s"])
    assert sorted(
        json.dumps(e, sort_keys=True) for e in _commit_stats(fast).values()
    ) == sorted(
        json.dumps(e, sort_keys=True) for e in _commit_stats(slow).values()
    )
    assert all(
        e["s"] == [None, None] for e in _commit_stats(fast).values()
    )


def test_footer_guards_fall_back(spark, tmp_path):
    """Every unprovable case returns None from _footer_minmax so the
    Spark job stays the source of truth: timestamps (INT96 — no
    footer stats at all), decimals (not extractable), float extremes
    of NaN/±0.0 (writer-widened), and columns absent from the file
    bytes."""
    df = spark.createDataFrame(
        [
            (datetime.datetime(2021, 1, 1), 1.5, 0.0),
            (datetime.datetime(2022, 2, 2), float("nan"), 3.0),
        ],
        "ts timestamp, nan_d double, zero_d double",
    ).withColumn("dec", F.lit("12.34").cast("decimal(10,2)"))
    t = str(tmp_path / "t")
    txlog.tx_write(df, t)
    with open(f"{t}/_txlog/{0:020d}.json") as fh:
        files = json.loads(fh.read())["add"]
    assert txlog._footer_minmax(t, files, ["ts"]) is None
    assert txlog._footer_minmax(t, files, ["dec"]) is None
    assert txlog._footer_minmax(t, files, ["nan_d"]) is None
    assert txlog._footer_minmax(t, files, ["zero_d"]) is None
    assert txlog._footer_minmax(t, files, ["no_such_col"]) is None
    # and the end-to-end stats commit still works via the job path
    t2 = str(tmp_path / "t2")
    txlog.tx_write(df, t2, stats_cols=["ts", "dec"])
    tsv = [e["ts"] for e in _commit_stats(t2).values()]
    assert min(v[0] for v in tsv) == "2021-01-01 00:00:00"
    assert max(v[1] for v in tsv) == "2022-02-02 00:00:00"


def test_footer_row_counts_match_job(spark, tmp_path, monkeypatch):
    df = spark.range(0, 1000).withColumn("v", F.col("id") * 2)

    fast = str(tmp_path / "fast")
    txlog.tx_write(df.limit(0), fast)
    txlog.tx_enable_row_tracking(spark, fast)
    txlog.tx_write(df, fast)

    slow = str(tmp_path / "slow")
    monkeypatch.setattr(txlog, "_footer_row_counts", lambda *a, **k: None)
    txlog.tx_write(df.limit(0), slow)
    txlog.tx_enable_row_tracking(spark, slow)
    txlog.tx_write(df, slow)

    fb = _commit_bases(fast, 2)
    sb = _commit_bases(slow, 2)
    assert fb and sorted(fb.values()) == sorted(sb.values())


def test_happy_path_append_runs_no_post_write_jobs(spark, tmp_path):
    """The job-count pin VERDICT r15 #5 asked for: a stats- and
    row-tracking-carrying append triggers exactly ONE Spark job — the
    staging write itself. Stats and row bases come from the staged
    footers; nothing re-reads the staged bytes."""
    df = _mixed_df(spark)
    t = str(tmp_path / "t")
    txlog.tx_write(df.limit(0), t)
    txlog.tx_enable_row_tracking(spark, t)

    tracker = spark.sparkContext._jsc.sc().statusTracker()
    before = len(tracker.getJobIdsForGroup(None))
    txlog.tx_write(df, t, stats_cols=["i", "s"])
    after = len(tracker.getJobIdsForGroup(None))
    assert after - before == 1, (
        f"expected exactly the staging write job, got {after - before}"
    )
    stats = _commit_stats(t, 2)
    assert stats and min(e["i"][0] for e in stats.values()) == -3
    assert max(e["i"][1] for e in stats.values()) == 11
    assert _commit_bases(t, 2)


def test_footer_stats_keyed_by_staged_name(spark, tmp_path):
    """Stats key on the caller's relative name, never on a split of the
    absolute path: a table under a ``/data/`` directory keeps its
    commit stats, and with them its pruning."""
    table = str(tmp_path / "data" / "warehouse" / "data" / "t")
    txlog.tx_write(
        spark.range(0, 10).selectExpr("id AS k").coalesce(1), table,
        stats_cols=["k"],
    )
    txlog.tx_write(
        spark.range(100, 110).selectExpr("id AS k").coalesce(1), table,
        stats_cols=["k"],
    )
    snap = txlog._replay(spark, table)
    files = sorted(snap.eps)
    assert files and set(snap.stats) == set(files)
    kept = txlog._prune_files(spark, table, snap, files, [("k", 100, 105)])
    assert kept and set(kept) < set(files)
    assert all(snap.stats[f]["k"][0] >= 100 for f in kept)

    # a staged name outside data/ keeps its own key too
    src = next(
        os.path.join(table, f) for f in files if f.endswith(".parquet")
    )
    os.makedirs(os.path.join(table, "other"))
    os.link(src, os.path.join(table, "other", "x.parquet"))
    foot = txlog._footer_minmax(table, ["other/x.parquet"], ["k"])
    assert list(foot) == ["other/x.parquet"]
