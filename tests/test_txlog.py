"""Transactional table format (sources/txlog.py): snapshot isolation,
time travel, crash windows (staged-but-uncommitted invisible, torn
commit impossible), idempotent txn retries, version races, checkpointed
replay, vacuum semantics — the Delta-protocol guarantees, each pinned."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from distributed_mapreduce__spark.sources.txlog import (
    _PAD,
    CHECKPOINT_EVERY,
    tx_history,
    tx_read,
    tx_vacuum,
    tx_write,
)


def _df(spark, lo, hi, tag):
    return spark.range(lo, hi).select(
        F.col("id"), F.lit(tag).alias("tag")
    )


def _ids(spark, path, version=None):
    return sorted(
        r.id for r in tx_read(spark, path, version=version).collect()
    )


def test_append_overwrite_time_travel(spark, tmp_path):
    t = str(tmp_path / "t")
    v0 = tx_write(_df(spark, 0, 5, "a"), t, mode="append")
    v1 = tx_write(_df(spark, 5, 8, "b"), t, mode="append")
    assert (v0, v1) == (0, 1)
    assert _ids(spark, t) == list(range(8))
    v2 = tx_write(_df(spark, 100, 103, "c"), t, mode="overwrite")
    assert _ids(spark, t) == [100, 101, 102]
    # time travel reads the pre-overwrite snapshots
    assert _ids(spark, t, version=v0) == [0, 1, 2, 3, 4]
    assert _ids(spark, t, version=v1) == list(range(8))
    assert [h["action"] for h in tx_history(spark, t)] == [
        "append", "append", "overwrite",
    ]
    with pytest.raises(ValueError, match="does not exist"):
        tx_read(spark, t, version=v2 + 7)


def test_uncommitted_files_invisible(spark, tmp_path):
    """Crash window 1: data files placed without a commit entry (a
    writer that died between stage-move and commit) must not appear in
    any read — readers trust the log, never the directory."""
    t = str(tmp_path / "t")
    tx_write(_df(spark, 0, 4, "a"), t)
    # simulate the dead writer: orphan parquet directly in data/
    _df(spark, 900, 910, "ghost").write.mode("overwrite").parquet(
        str(tmp_path / "ghost")
    )
    import glob
    import shutil

    for i, f in enumerate(glob.glob(str(tmp_path / "ghost" / "*.parquet"))):
        shutil.copy(f, f"{t}/data/orphan{i}.parquet")
    assert _ids(spark, t) == [0, 1, 2, 3]


def test_torn_commit_tmp_ignored(spark, tmp_path):
    """Crash window 2: a writer that died mid-commit leaves only a
    .tmp the log replay ignores."""
    t = str(tmp_path / "t")
    tx_write(_df(spark, 0, 3, "a"), t)
    with open(f"{t}/_txlog/{1:0{_PAD}d}.json.tmp-dead", "w") as f:
        f.write('{"version": 1, "action": "append", "add": ["data/x.parquet"]}')
    assert _ids(spark, t) == [0, 1, 2]
    assert tx_write(_df(spark, 3, 4, "b"), t) == 1  # tmp never claimed v1


def test_idempotent_txn_retry(spark, tmp_path):
    """The foreachBatch exactly-once contract: re-running a committed
    txn id is a no-op returning the original version."""
    t = str(tmp_path / "t")
    v = tx_write(_df(spark, 0, 5, "a"), t, txn="batch-0")
    v_retry = tx_write(_df(spark, 0, 5, "a"), t, txn="batch-0")
    assert v_retry == v
    assert _ids(spark, t) == [0, 1, 2, 3, 4]  # not doubled
    assert len(tx_history(spark, t)) == 1


def test_version_race_retries_at_next(spark, tmp_path):
    """Optimistic concurrency: if another writer claims the version
    first (simulated by pre-creating the commit file), the loser
    retries at the next version instead of clobbering."""
    t = str(tmp_path / "t")
    tx_write(_df(spark, 0, 3, "a"), t)
    # a "concurrent writer" owns version 1 (an empty append)
    with open(f"{t}/_txlog/{1:0{_PAD}d}.json", "w") as f:
        json.dump({"version": 1, "action": "append", "add": [], "remove": []}, f)
    v = tx_write(_df(spark, 3, 6, "b"), t)
    assert v == 2
    assert _ids(spark, t) == [0, 1, 2, 3, 4, 5]


def test_checkpointed_replay_equals_full(spark, tmp_path):
    t = str(tmp_path / "t")
    for i in range(CHECKPOINT_EVERY + 3):
        tx_write(_df(spark, i * 2, i * 2 + 2, f"b{i}"), t)
    import glob

    assert glob.glob(f"{t}/_txlog/*.checkpoint.json")  # one was cut
    assert _ids(spark, t) == list(range((CHECKPOINT_EVERY + 3) * 2))
    # historical read below the checkpoint still replays from genesis
    assert _ids(spark, t, version=1) == [0, 1, 2, 3]


def test_vacuum_deletes_dead_files_keeps_snapshot_and_txns(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_write(_df(spark, 0, 4, "a"), t, txn="b0")
    tx_write(_df(spark, 4, 6, "b"), t, txn="b1")
    tx_write(_df(spark, 50, 53, "c"), t, mode="overwrite", txn="b2")
    import glob

    n_before = len(glob.glob(f"{t}/data/*.parquet"))
    deleted = tx_vacuum(spark, t)
    assert deleted  # the overwritten files died
    assert len(glob.glob(f"{t}/data/*.parquet")) == n_before - len(deleted)
    assert _ids(spark, t) == [50, 51, 52]
    # idempotent-retry safety survives vacuum (txn map folded into the
    # checkpoint): re-running b1 is still a no-op
    v = tx_write(_df(spark, 4, 6, "b"), t, txn="b1")
    assert _ids(spark, t) == [50, 51, 52]
    assert v == 1
    # and new commits continue ABOVE the checkpoint, never at 0
    v_new = tx_write(_df(spark, 53, 54, "d"), t)
    assert v_new >= 3
    assert _ids(spark, t) == [50, 51, 52, 53]


def test_streaming_foreachbatch_exactly_once(spark, tmp_path):
    """The intended streaming sink usage: foreachBatch + txn=batch id;
    a restart from the same checkpoint re-offers batches and the table
    stays exactly-once."""
    src = str(tmp_path / "src")
    t = str(tmp_path / "t")
    ckpt = str(tmp_path / "ck")
    full = _df(spark, 0, 30, "s")
    full.repartition(3).write.mode("overwrite").parquet(src)

    def start():
        stream = (
            spark.readStream.schema(full.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        return (
            stream.writeStream.foreachBatch(
                lambda df, bid: tx_write(df, t, txn=f"s{bid}")
            )
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert _ids(spark, t) == list(range(30))
    q2 = start()  # restart: nothing new → no duplicates
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert _ids(spark, t) == list(range(30))


# --- MERGE + OPTIMIZE ------------------------------------------------------


def test_merge_upserts_and_prunes_files(spark, tmp_path):
    """MERGE rewrites ONLY the files whose footer key range overlaps
    the updates; distant files keep their physical identity (the
    stats-pruned copy-on-write of Delta's MERGE)."""
    from distributed_mapreduce__spark.sources.txlog import (
        _snapshot_files,
        tx_merge,
    )

    t = str(tmp_path / "t")
    # two appends with DISJOINT key ranges → disjoint file footers
    tx_write(_df(spark, 0, 100, "low").coalesce(1), t)
    tx_write(_df(spark, 1000, 1100, "high").coalesce(1), t)
    before, _ = _snapshot_files(spark, t)
    updates = spark.range(1000, 1005).select(
        F.col("id"), F.lit("UPDATED").alias("tag")
    ).unionByName(
        spark.range(5000, 5002).select(F.col("id"), F.lit("new").alias("tag"))
    )
    tx_merge(updates, t, "id")
    after, _ = _snapshot_files(spark, t)
    # the low-range file survived untouched; the high file was rewritten
    low_files = set(before) & set(after)
    assert len(low_files) == 1
    got = {r.id: r.tag for r in tx_read(spark, t).collect()}
    assert len(got) == 100 + 100 + 2
    assert all(got[i] == "UPDATED" for i in range(1000, 1005))
    assert all(got[i] == "high" for i in range(1005, 1100))
    assert all(got[i] == "low" for i in range(0, 100))
    assert got[5000] == "new" and got[5001] == "new"


def test_merge_validates_updates(spark, tmp_path):
    from distributed_mapreduce__spark.sources.txlog import tx_merge

    t = str(tmp_path / "t")
    tx_write(_df(spark, 0, 5, "a"), t)
    dup = spark.createDataFrame([(1, "x"), (1, "y")], "id long, tag string")
    with pytest.raises(ValueError, match="duplicate"):
        tx_merge(dup, t, "id")
    nul = spark.createDataFrame([(None, "x")], "id long, tag string")
    with pytest.raises(ValueError, match="NULL"):
        tx_merge(nul, t, "id")


def test_merge_idempotent_txn(spark, tmp_path):
    from distributed_mapreduce__spark.sources.txlog import tx_merge

    t = str(tmp_path / "t")
    tx_write(_df(spark, 0, 10, "a"), t)
    upd = spark.createDataFrame([(3, "U")], "id long, tag string")
    v = tx_merge(upd, t, "id", txn="m1")
    assert tx_merge(upd, t, "id", txn="m1") == v
    got = {r.id: r.tag for r in tx_read(spark, t).collect()}
    assert len(got) == 10 and got[3] == "U"


def test_compact_binpacks_without_changing_contents(spark, tmp_path):
    from distributed_mapreduce__spark.sources.txlog import (
        _snapshot_files,
        tx_compact,
    )

    t = str(tmp_path / "t")
    for i in range(6):
        tx_write(_df(spark, i * 3, i * 3 + 3, f"b{i}").coalesce(1), t)
    before = sorted(
        (r.id, r.tag) for r in tx_read(spark, t).collect()
    )
    assert len(_snapshot_files(spark, t)[0]) == 6
    v = tx_compact(spark, t, target_files=1)
    assert v is not None
    files, _ = _snapshot_files(spark, t)
    assert len(files) == 1
    assert sorted((r.id, r.tag) for r in tx_read(spark, t).collect()) == before
    # converged: nothing left to compact
    assert tx_compact(spark, t, target_files=1) is None


def test_rewrite_conflict_detected(spark, tmp_path):
    """A rewrite whose chosen files were concurrently rewritten must
    abort loudly, not resurrect them (simulated by compacting between
    snapshot and commit via a monkeypatched commit hook... simplest
    honest simulation: run a compaction, then attempt a commit built
    against the OLD snapshot through _commit_rewrite directly)."""
    from distributed_mapreduce__spark.sources.txlog import (
        _commit_rewrite,
        _replay,
        tx_compact,
    )

    t = str(tmp_path / "t")
    for i in range(3):
        tx_write(_df(spark, i * 2, i * 2 + 2, f"b{i}").coalesce(1), t)
    old = _replay(spark, t)
    tx_compact(spark, t, target_files=1)  # retires old's files
    with pytest.raises(RuntimeError, match="conflict"):
        _commit_rewrite(
            spark, t, ["data/bogus.parquet"], sorted(old.eps), old, None,
            "merge",
        )


def test_change_feed_incremental_consumption(spark, tmp_path):
    from distributed_mapreduce__spark.sources.txlog import (
        tx_changes,
        tx_compact,
        tx_merge,
        tx_vacuum,
    )

    t = str(tmp_path / "t")
    tx_write(_df(spark, 0, 5, "a"), t)
    df, v = tx_changes(spark, t, None)
    assert sorted(r.id for r in df.collect()) == [0, 1, 2, 3, 4]
    # nothing new → (None, same version)
    assert tx_changes(spark, t, v) == (None, v)
    tx_write(_df(spark, 5, 8, "b"), t)
    tx_write(_df(spark, 8, 9, "c"), t)
    df2, v2 = tx_changes(spark, t, v)
    assert sorted(r.id for r in df2.collect()) == [5, 6, 7, 8]
    # compaction is invisible to the feed (pure rewrite)
    tx_compact(spark, t, target_files=1)
    df3, v3 = tx_changes(spark, t, v2)
    assert df3 is None
    # a history rewrite forces a snapshot reprocess
    tx_merge(
        spark.createDataFrame([(0, "U")], "id long, tag string"), t, "id"
    )
    with pytest.raises(ValueError, match="rewrites history"):
        tx_changes(spark, t, v3)
    # the snapshot read the error directs the caller to is intact
    assert tx_read(spark, t).count() == 9
    # vacuumed-away history is detected, not silently skipped
    tx_vacuum(spark, t)
    with pytest.raises(ValueError, match="vacuumed"):
        tx_changes(spark, t, 0)


def test_delete_by_key_prunes_and_travels(spark, tmp_path):
    from distributed_mapreduce__spark.sources.txlog import (
        _snapshot_files,
        tx_delete,
        tx_vacuum,
    )

    t = str(tmp_path / "t")
    tx_write(_df(spark, 0, 100, "low").coalesce(1), t)
    tx_write(_df(spark, 1000, 1100, "high").coalesce(1), t)
    before, _ = _snapshot_files(spark, t)
    keys = spark.createDataFrame([(1050,), (1051,)], "id long")
    v = tx_delete(keys, t, "id", txn="erase-1")
    after, _ = _snapshot_files(spark, t)
    assert set(before) & set(after)  # the low file untouched (pruned)
    ids = _ids(spark, t)
    assert 1050 not in ids and 1051 not in ids
    assert len(ids) == 198
    # idempotent retry
    assert tx_delete(keys, t, "id", txn="erase-1") == v
    assert len(_ids(spark, t)) == 198
    # time travel still sees the deleted rows until vacuum — then not
    assert 1050 in _ids(spark, t, version=1)
    tx_vacuum(spark, t)
    import glob

    live = glob.glob(f"{t}/data/*.parquet")
    got = sorted(
        r.id for r in spark.read.parquet(*live).collect()
    )
    assert 1050 not in got  # physically erased everywhere
    # delete with keys that cannot match any footer range: zero rewrites
    far = spark.createDataFrame([(999999,)], "id long")
    b2, _ = _snapshot_files(spark, t)
    tx_delete(far, t, "id")
    a2, _ = _snapshot_files(spark, t)
    assert b2 == a2


def test_schema_evolution_merge_schema_read(spark, tmp_path):
    """Since round 10 a widened append needs schema_mode='merge'
    (schema-on-write), after which plain tx_read merges footers
    AUTOMATICALLY — the explicit merge_schema=True stays as a manual
    override."""
    from distributed_mapreduce__spark.sources.txlog import tx_read as tr

    t = str(tmp_path / "t")
    tx_write(_df(spark, 0, 3, "a"), t)
    widened = _df(spark, 3, 5, "b").withColumn("score", F.lit(0.5))
    tx_write(widened, t, schema_mode="merge")
    for kwargs in ({"merge_schema": True}, {}):  # explicit AND automatic
        cols = set(tr(spark, t, **kwargs).columns)
        assert cols == {"id", "tag", "score"}
        rows = {r.id: r.score for r in tr(spark, t, **kwargs).collect()}
        assert rows[4] == 0.5 and rows[0] is None


def test_schema_on_write_enforced(spark, tmp_path):
    """Round 10 (Delta schema enforcement): an append whose columns
    differ from the table's raises by default; a same-name TYPE change
    raises in EVERY mode; overwrite retypes freely; enforcement and
    the auto-merge flag survive checkpoint folding + vacuum."""
    from distributed_mapreduce__spark.sources.txlog import tx_read as tr

    t = str(tmp_path / "t")
    tx_write(_df(spark, 0, 3, "a"), t)
    widened = _df(spark, 3, 5, "b").withColumn("score", F.lit(0.5))
    with pytest.raises(ValueError, match="schema_mode='merge'"):
        tx_write(widened, t)
    # dropping a column is also a mismatch under enforce
    with pytest.raises(ValueError, match="missing columns"):
        tx_write(_df(spark, 5, 6, "c").drop("tag"), t)
    # a TYPE change is refused even in merge mode
    retyped = _df(spark, 5, 6, "c").withColumn(
        "tag", F.lit(7).cast("long")
    )
    with pytest.raises(ValueError, match="TYPE"):
        tx_write(retyped, t, schema_mode="merge")
    # merge mode evolves; the NEXT plain append must match the EVOLVED
    # schema (score now part of it)
    tx_write(widened, t, schema_mode="merge")
    with pytest.raises(ValueError, match="missing columns"):
        tx_write(_df(spark, 6, 7, "d"), t)
    tx_write(
        _df(spark, 6, 7, "d").withColumn("score", F.lit(1.0)), t
    )
    # enforcement + auto-merge survive checkpoint + log truncation
    tx_vacuum(spark, t, retain_last=0)
    assert set(tr(spark, t).columns) == {"id", "tag", "score"}
    with pytest.raises(ValueError, match="missing columns"):
        tx_write(_df(spark, 7, 8, "e"), t)
    # overwrite resets the schema — and the auto-merge flag with it
    tx_write(_df(spark, 100, 102, "o"), t, mode="overwrite")
    assert set(tr(spark, t).columns) == {"id", "tag"}
    tx_write(_df(spark, 102, 103, "p"), t)  # matches again


def test_schema_enforcement_skips_prestamp_tables(spark, tmp_path):
    """Tables written before schema recording (or by an older build)
    have nothing to enforce against: appends keep working, reads keep
    their historical non-merged behavior."""
    import json as _json

    from distributed_mapreduce__spark.sources.txlog import _PAD

    t = str(tmp_path / "t")
    tx_write(_df(spark, 0, 3, "a"), t)
    # strip the schema marker, simulating a legacy commit
    p = f"{t}/_txlog/{0:0{_PAD}d}.json"
    c = _json.load(open(p))
    del c["schema"]
    import os

    os.unlink(p)
    with open(p, "w") as fh:
        _json.dump(c, fh)
    # a widened append is accepted (nothing to enforce against)...
    tx_write(_df(spark, 3, 4, "b").withColumn("x", F.lit(1)), t)
    # ...and from that commit on the schema IS recorded and enforced
    with pytest.raises(ValueError, match="missing columns"):
        tx_write(_df(spark, 4, 5, "c"), t)


def test_log_stats_prune_without_footer_io(spark, tmp_path, monkeypatch):
    """stats_cols at write time records per-file [min,max] in the
    commit; merge/delete/filtered reads then prune from the LOG alone.
    Pinned by making footer reads explode — with stats in the log they
    must never be consulted."""
    from distributed_mapreduce__spark.sources import txlog as T

    t = str(tmp_path / "t")
    tx_write(_df(spark, 0, 100, "low").coalesce(1), t, stats_cols=["id"])
    tx_write(_df(spark, 1000, 1100, "high").coalesce(1), t, stats_cols=["id"])
    # commit JSON carries the ranges
    c0 = json.load(open(f"{t}/_txlog/{0:0{_PAD}d}.json"))
    (stats0,) = c0["stats"].values()
    assert stats0["id"] == [0, 99]

    def boom(*a, **k):
        raise AssertionError("footer consulted despite log stats")

    monkeypatch.setattr(T, "_footer_min_max", boom)

    # filtered read scans ONLY the overlapping file
    narrow = T.tx_read(spark, t, where=("id", 1000, 1010))
    assert len(narrow.inputFiles()) == 1
    assert sorted(r.id for r in narrow.collect()) == list(range(1000, 1011))
    # one-sided bound
    assert len(T.tx_read(spark, t, where=("id", None, 50)).inputFiles()) == 1

    # delete prunes from the log (footer hook would raise)
    T.tx_delete(spark.createDataFrame([(7,)], "id long"), t, "id")
    assert 7 not in set(T.tx_read(spark, t).select("id").toPandas()["id"])

    # merge likewise — and its rewrite output re-records stats, so the
    # table STAYS log-prunable afterwards (footer hook still armed)
    upd = spark.createDataFrame([(1050, "U")], "id long, tag string")
    T.tx_merge(upd, t, "id")
    got = {r.id: r.tag for r in T.tx_read(spark, t).collect()}
    assert got[1050] == "U" and got[0] == "low" and len(got) == 199
    T.tx_delete(spark.createDataFrame([(1051,)], "id long"), t, "id")
    assert len(T.tx_read(spark, t).collect()) == 198


def test_stats_survive_checkpoint_and_vacuum(spark, tmp_path, monkeypatch):
    from distributed_mapreduce__spark.sources import txlog as T

    t = str(tmp_path / "t")
    tx_write(_df(spark, 0, 50, "a").coalesce(1), t, stats_cols=["id"])
    tx_write(_df(spark, 500, 550, "b").coalesce(1), t, stats_cols=["id"])
    tx_vacuum(spark, t)  # folds live stats into the checkpoint

    def boom(*a, **k):
        raise AssertionError("footer consulted despite checkpointed stats")

    monkeypatch.setattr(T, "_footer_min_max", boom)
    assert len(T.tx_read(spark, t, where=("id", 510, 520)).inputFiles()) == 1


def test_stats_absence_means_keep_never_wrong(spark, tmp_path):
    """A table written WITHOUT stats_cols has no log stats — filtered
    reads must keep every file (prune only on evidence) and rely on
    the residual filter for correctness."""
    from distributed_mapreduce__spark.sources import txlog as T

    t = str(tmp_path / "t")
    tx_write(_df(spark, 0, 100, "a").coalesce(1), t)
    tx_write(_df(spark, 1000, 1100, "b").coalesce(1), t)
    out = T.tx_read(spark, t, where=("id", 0, 10))
    assert len(out.inputFiles()) == 2  # nothing prunable
    assert sorted(r.id for r in out.collect()) == list(range(11))


def test_rewrite_output_recorded_stats(spark, tmp_path):
    """Merge/compact outputs re-record stats for the columns their
    inputs carried, so coverage survives rewrites."""
    from distributed_mapreduce__spark.sources import txlog as T

    t = str(tmp_path / "t")
    tx_write(_df(spark, 0, 100, "a").coalesce(1), t, stats_cols=["id"])
    tx_write(_df(spark, 1000, 1100, "b").coalesce(1), t, stats_cols=["id"])
    T.tx_merge(
        spark.createDataFrame([(5, "U")], "id long, tag string"), t, "id"
    )
    T.tx_compact(spark, t, target_files=1)
    logged = T._log_stats(spark, t)
    files, _ = T._snapshot_files(spark, t)
    assert all(f in logged and "id" in logged[f] for f in files)
    (only,) = files
    assert logged[only]["id"] == [0, 1099]


def test_change_feed_future_cursor_rejected(spark, tmp_path):
    from distributed_mapreduce__spark.sources.txlog import tx_changes

    t = str(tmp_path / "t")
    tx_write(_df(spark, 0, 3, "a"), t)
    with pytest.raises(ValueError, match="beyond the log"):
        tx_changes(spark, t, 99)


def test_optimize_zorder_prunes_both_columns(spark, tmp_path):
    """OPTIMIZE ZORDER over two columns: contents bit-identical, and a
    range read on EITHER column afterwards scans a fraction of the
    files via log stats alone — the multi-dimensional skipping claim
    measured with inputFiles()."""
    from distributed_mapreduce__spark.sources.txlog import (
        tx_optimize_zorder,
        tx_read,
    )

    t = str(tmp_path / "t")
    # x and y deliberately uncorrelated: a linear sort on one leaves
    # the other unprunable; the z-curve bounds both
    df = spark.range(0, 20_000).select(
        F.col("id").alias("x"),
        ((F.col("id") * 48271) % 20_000).alias("y"),
    )
    tx_write(df.repartition(8), t)
    before = sorted(map(tuple, tx_read(spark, t).collect()))
    v = tx_optimize_zorder(spark, t, ["x", "y"], n_files=16)
    assert v is not None
    after_df = tx_read(spark, t)
    assert sorted(map(tuple, after_df.collect())) == before
    n_total = len(after_df.inputFiles())
    assert n_total >= 8
    for col in ("x", "y"):
        narrow = tx_read(spark, t, where=(col, 1000, 1999))
        assert len(narrow.inputFiles()) <= n_total // 2, col
        got = sorted(r[col] for r in narrow.select(col).collect())
        assert got == list(range(1000, 2000))


def test_diff_between_versions(spark, tmp_path):
    from distributed_mapreduce__spark.sources.txlog import tx_diff, tx_merge

    t = str(tmp_path / "t")
    v0 = tx_write(_df(spark, 0, 5, "a").coalesce(1), t)
    v1 = tx_write(_df(spark, 100, 103, "b").coalesce(1), t)
    d01 = tx_diff(spark, t, v0, v1).collect()
    assert {(r.id, r.change) for r in d01} == {
        (100, "added"), (101, "added"), (102, "added")
    }
    # append-only adjacent diff reads only the appended file
    assert all("added" == r.change for r in d01)
    v2 = tx_merge(
        spark.createDataFrame([(2, "U")], "id long, tag string"), t, "id"
    )
    d12 = {(r.id, r.tag, r.change) for r in tx_diff(spark, t, v1, v2).collect()}
    assert (2, "U", "added") in d12 and (2, "a", "removed") in d12
    # rows untouched by the merge's rewrite don't appear... the rewrite
    # rewrote the whole low file, so its other rows round-trip as
    # identical content and exceptAll cancels them
    assert not {x for x in d12 if x[0] != 2}
    # full-range diff = current snapshot as additions
    assert len(tx_diff(spark, t, v0).filter("change = 'added'").collect()) == 4


def test_maintain_converges_and_cleans(spark, tmp_path):
    from distributed_mapreduce__spark.sources.txlog import (
        _snapshot_files,
        tx_maintain,
    )

    t = str(tmp_path / "t")
    for i in range(12):
        tx_write(_df(spark, i * 2, i * 2 + 2, f"b{i}").coalesce(1), t)
    want = _ids(spark, t)
    rep = tx_maintain(spark, t, max_live_files=3, compact_target=2)
    assert rep["files_before"] == 12
    assert rep["files_after"] <= 3
    assert rep["compactions"] >= 1
    assert rep["vacuumed"] >= 1  # retired inputs physically gone
    assert _ids(spark, t) == want  # contents untouched
    files, _ = _snapshot_files(spark, t)
    assert len(files) == rep["files_after"]
    # already-tidy table: maintenance is a cheap no-op
    rep2 = tx_maintain(spark, t, max_live_files=3, compact_target=2)
    assert rep2["compactions"] == 0


# --- round 8: commit claimers, TOCTOU closure, append conflicts ----------


def test_same_version_race_exactly_one_winner(spark, tmp_path):
    """VERDICT r7 #5: the old exists→rename publish had a TOCTOU
    window on local FS (RawLocalFileSystem rename REPLACES). The
    link(2)-based publish closes it: two writers racing the SAME
    commit filename — with the pre-link window widened to make any
    timing-based 'atomicity' fail — must resolve to exactly one
    winner, and the committed bytes must be the winner's."""
    import threading
    import time

    from distributed_mapreduce__spark.sources import txlog, txlog_core
    from distributed_mapreduce__spark.sources.sinks import hadoop_fs

    final = str(tmp_path / "_txlog" / f"{7:0{_PAD}d}.json")
    fs = hadoop_fs(spark, final)[0]
    barrier = threading.Barrier(2)
    results = {}

    old_hook = txlog_core._prepublish_hook
    txlog_core._prepublish_hook = lambda: time.sleep(0.3)
    try:

        def writer(tag):
            barrier.wait()
            results[tag] = txlog._write_atomic(
                spark, fs, final, json.dumps({"w": tag}).encode()
            )

        ts = [threading.Thread(target=writer, args=(t,)) for t in ("a", "b")]
        [t.start() for t in ts]
        [t.join() for t in ts]
    finally:
        txlog_core._prepublish_hook = old_hook

    assert sorted(results.values()) == [False, True], results
    winner = next(t for t, ok in results.items() if ok)
    with open(final) as f:
        assert json.load(f)["w"] == winner


def test_concurrent_tx_write_threads_lose_nothing(spark, tmp_path):
    """End-to-end race: two threads tx_write the same table at the
    same time; both must land (at different versions) with no commit
    silently dropped."""
    import threading

    t = str(tmp_path / "t")
    tx_write(_df(spark, 0, 1, "seed"), t)
    barrier = threading.Barrier(2)
    versions = {}

    def writer(lo, hi, tag):
        barrier.wait()
        versions[tag] = tx_write(_df(spark, lo, hi, tag), t)

    ts = [
        threading.Thread(target=writer, args=(10, 15, "a")),
        threading.Thread(target=writer, args=(20, 25, "b")),
    ]
    [th.start() for th in ts]
    [th.join() for th in ts]
    assert versions["a"] != versions["b"]
    assert _ids(spark, t) == [0] + list(range(10, 15)) + list(range(20, 25))


def test_claimer_registry_and_object_store_refusal(spark, tmp_path):
    """The pluggable commit-claim hook: a registered claimer is
    dispatched by scheme (the one-function object-store port), and an
    UNREGISTERED object-store scheme refuses loudly instead of
    pretending rename is atomic there."""
    from distributed_mapreduce__spark.sources import txlog

    class FakeStore(txlog.CommitClaimer):
        def __init__(self):
            self.store = {}

        def publish(self, spark, fs, path, payload):
            if path in self.store:  # put-if-absent semantics
                return False
            self.store[path] = payload
            return True

    fake = FakeStore()
    txlog.register_claimer("fake", fake)
    try:
        assert txlog._claimer_for("fake://bucket/t/x.json") is fake
        assert txlog._write_atomic(spark, None, "fake://b/v0.json", b"one")
        assert not txlog._write_atomic(spark, None, "fake://b/v0.json", b"two")
        assert fake.store["fake://b/v0.json"] == b"one"
    finally:
        txlog._CLAIMERS.pop("fake", None)

    with pytest.raises(NotImplementedError, match="put-if-absent"):
        txlog._claimer_for("s3a://bucket/table/_txlog/x.json")
    # local paths use the link(2) put-if-absent arm; hdfs the rename arm
    assert isinstance(
        txlog._claimer_for(str(tmp_path)), txlog.HardLinkClaimer
    )
    assert isinstance(
        txlog._claimer_for("hdfs://nn/t/x.json"), txlog.HdfsRenameClaimer
    )


def test_empty_delete_and_merge_no_crash(spark, tmp_path):
    """ADVICE r7: an EMPTY keys/updates frame used to crash
    _files_overlapping_keys (min/max of zero rows is None, compared
    against file stats). Now: empty delete takes the empty-commit path
    (recording its txn id), empty merge changes nothing."""
    from distributed_mapreduce__spark.sources.txlog import tx_delete, tx_merge

    t = str(tmp_path / "t")
    tx_write(_df(spark, 0, 5, "a"), t)
    empty = _df(spark, 0, 0, "x")

    v = tx_delete(empty.select("id"), t, "id", txn="empty-del")
    assert _ids(spark, t) == [0, 1, 2, 3, 4]
    # idempotent: the txn was recorded even though nothing was deleted
    assert tx_delete(empty.select("id"), t, "id", txn="empty-del") == v

    tx_merge(empty, t, "id")
    assert _ids(spark, t) == [0, 1, 2, 3, 4]


def test_merge_conflicts_with_overlapping_concurrent_append(
    spark, tmp_path, monkeypatch
):
    """ADVICE r7: an append committing rows with matching keys between
    a merge's snapshot and its commit must abort the merge (Delta's
    ConcurrentAppendException) — otherwise the table ends with
    duplicate keys. Simulated by injecting a real tx_write during the
    merge's staging step."""
    from distributed_mapreduce__spark.sources import txlog

    t = str(tmp_path / "t")
    tx_write(_df(spark, 0, 10, "base"), t, stats_cols=["id"])

    real_stage = txlog._stage_and_place
    fired = {}

    def stage_with_concurrent_append(df, path, partition_by=None):
        if "done" not in fired:
            fired["done"] = True
            # the racing append lands id=5 — inside the merge's range
            tx_write(_df(spark, 5, 6, "race"), path, stats_cols=["id"])
        return real_stage(df, path, partition_by)

    monkeypatch.setattr(txlog, "_stage_and_place", stage_with_concurrent_append)
    updates = _df(spark, 4, 7, "upd")
    with pytest.raises(RuntimeError, match="appended files overlapping"):
        txlog.tx_merge(updates, t, "id")


def test_merge_ignores_disjoint_concurrent_append(spark, tmp_path, monkeypatch):
    """The flip side: a concurrent append provably DISJOINT from the
    merge's key range (by its recorded stats) must not abort — that
    append's files are untouched and both commits land."""
    from distributed_mapreduce__spark.sources import txlog

    t = str(tmp_path / "t")
    tx_write(_df(spark, 0, 10, "base"), t, stats_cols=["id"])

    real_stage = txlog._stage_and_place
    fired = {}

    def stage_with_disjoint_append(df, path, partition_by=None):
        if "done" not in fired:
            fired["done"] = True
            tx_write(_df(spark, 100, 105, "far"), path, stats_cols=["id"])
        return real_stage(df, path, partition_by)

    monkeypatch.setattr(txlog, "_stage_and_place", stage_with_disjoint_append)
    updates = _df(spark, 4, 7, "upd")
    txlog.tx_merge(updates, t, "id")
    ids = _ids(spark, t)
    assert ids == list(range(10)) + list(range(100, 105))
    # merged rows replaced in place: tag flipped for 4..6
    tags = {
        r.id: r.tag
        for r in tx_read(spark, t).filter(F.col("id").between(4, 6)).collect()
    }
    assert tags == {4: "upd", 5: "upd", 6: "upd"}


# --- round 9: link(2) publish — crash recovery, fs dispatch, processes ---


def test_crashed_writer_debris_never_wedges(spark, tmp_path):
    """ADVICE r8 (high): under the round-8 claim-file protocol, a
    writer that died between creating '<v>.json.claim' and renaming
    its payload left an orphan claim every later writer lost to —
    the table wedged permanently. The link(2) publish has no claim
    file at all: pre-planting BOTH kinds of crash debris (a legacy
    .claim and an orphan payload .tmp) at the exact next version must
    not cost a single retry, and tx_vacuum sweeps the debris."""
    import os

    t = str(tmp_path / "t")
    tx_write(_df(spark, 0, 3, "seed"), t)
    log = os.path.join(t, "_txlog")
    next_name = os.path.join(log, f"{1:0{_PAD}d}.json")
    open(next_name + ".claim", "wb").close()  # dead round-8 writer
    with open(next_name + ".tmp-deadbeef", "wb") as f:
        f.write(b'{"torn":')  # dead writer's half-written payload
    assert tx_write(_df(spark, 10, 13, "b"), t) == 1
    assert _ids(spark, t) == [0, 1, 2, 10, 11, 12]
    from distributed_mapreduce__spark.sources.txlog import tx_vacuum

    tx_vacuum(spark, t)
    left = sorted(os.listdir(log))
    assert not any(".claim" in n or ".tmp" in n for n in left), left
    assert _ids(spark, t) == [0, 1, 2, 10, 11, 12]


def test_schemeless_dispatch_follows_actual_fs(spark, tmp_path):
    """ADVICE r8 (medium): a scheme-less path on a cluster whose
    fs.defaultFS is hdfs:// is an HDFS path — dispatching it to the
    local-disk arm would write the commit to the driver's disk while
    readers replay the HDFS log (silent lost commit). The scheme must
    come from the filesystem object actually serving the path."""
    from distributed_mapreduce__spark.sources import txlog
    from distributed_mapreduce__spark.sources.sinks import hadoop_fs

    class FakeHdfsUri:
        def getScheme(self):
            return "hdfs"

    class FakeHdfsFs:
        def getUri(self):
            return FakeHdfsUri()

    # scheme-less + hdfs default FS -> rename arm, NOT local link arm
    assert isinstance(
        txlog._claimer_for("/warehouse/t/_txlog/x.json", FakeHdfsFs()),
        txlog.HdfsRenameClaimer,
    )
    # scheme-less + the sandbox's real (local) FS -> link arm
    real_fs = hadoop_fs(spark, str(tmp_path))[0]
    assert isinstance(
        txlog._claimer_for(str(tmp_path), real_fs), txlog.HardLinkClaimer
    )
    # an explicit scheme always wins over the fs handle
    assert isinstance(
        txlog._claimer_for("hdfs://nn/t/x.json", None), txlog.HdfsRenameClaimer
    )


def test_multiprocess_same_version_race_one_winner(tmp_path):
    """VERDICT r8 stretch #8: the thread race proves the logic; this
    proves the PRIMITIVE — link(2) arbitrates across PROCESSES (no
    GIL, no shared interpreter state). Eight forked writers race the
    same commit filename through a barrier; exactly one may win and
    the final bytes must be the winner's."""
    import json as _json
    import multiprocessing as mp
    import os

    final = str(tmp_path / "_txlog" / f"{3:0{_PAD}d}.json")
    os.makedirs(os.path.dirname(final))
    ctx = mp.get_context("fork")
    barrier = ctx.Barrier(8)

    def racer(tag, outdir):
        from distributed_mapreduce__spark.sources.txlog import HardLinkClaimer

        barrier.wait()
        won = HardLinkClaimer().publish(
            None, None, final, _json.dumps({"w": tag}).encode()
        )
        open(os.path.join(outdir, f"{tag}.{'won' if won else 'lost'}"), "wb").close()

    outdir = str(tmp_path / "results")
    os.makedirs(outdir)
    procs = [
        ctx.Process(target=racer, args=(i, outdir)) for i in range(8)
    ]
    [p.start() for p in procs]
    [p.join(30) for p in procs]
    assert all(p.exitcode == 0 for p in procs)
    outcomes = sorted(os.listdir(outdir))
    winners = [n for n in outcomes if n.endswith(".won")]
    assert len(winners) == 1 and len(outcomes) == 8, outcomes
    with open(final) as f:
        assert _json.load(f)["w"] == int(winners[0].split(".")[0])
    # no stray tmps: every loser unlinked its payload
    assert os.listdir(os.path.dirname(final)) == [os.path.basename(final)]


def test_vacuum_sweeps_cdf_sidecars_with_their_commits(spark, tmp_path):
    """_cdf sidecars live exactly as long as the commit that names
    them: retained-window commits keep theirs (a change-feed consumer
    may still read them), truncated commits' sidecars are swept, and a
    crashed rewrite's orphan sidecar (staged, never committed) is
    debris."""
    import glob

    from distributed_mapreduce__spark.sources.txlog import (
        _stage_cdf,
        tx_changes_cdf,
        tx_merge,
    )

    t = str(tmp_path / "t")
    tx_write(_df(spark, 0, 6, "a"), t)                     # v0
    tx_merge(_df(spark, 2, 4, "u1"), t, "id")              # v1: cdf
    tx_write(_df(spark, 10, 12, "b"), t)                   # v2
    tx_merge(_df(spark, 10, 11, "u2"), t, "id")            # v3: cdf
    # orphan: a rewrite that staged its sidecar then crashed pre-commit
    _stage_cdf(
        _df(spark, 99, 100, "x").withColumn(
            "_change_type", F.lit("insert")
        ),
        t,
    )
    def commit_cdf(version):
        with open(f"{t}/_txlog/{version:0{_PAD}d}.json") as fh:
            return {
                f"{t}/{f}" for f in json.load(fh)["cdf"]["files"]
            }

    v1_files, v3_files = commit_cdf(1), commit_cdf(3)
    on_disk = set(glob.glob(f"{t}/_cdf/*.parquet"))
    assert v1_files | v3_files < on_disk  # + the orphan

    # retain v3 (latest) + 1 below → v1's sidecar is truncated away
    # with its commit, v3's survives and its feed still delivers; the
    # orphan is gone either way
    tx_vacuum(spark, t, retain_last=1)
    assert set(glob.glob(f"{t}/_cdf/*.parquet")) == v3_files
    frames = list(tx_changes_cdf(spark, t, 2))
    assert [(v, k) for v, k, _ in frames] == [(3, "cdf")]
    assert {r._change_type for r in frames[0][2].collect()} == {
        "update_preimage",
        "update_postimage",
    }

    # aggressive vacuum: nothing references any sidecar anymore
    tx_vacuum(spark, t)
    assert glob.glob(f"{t}/_cdf/*.parquet") == []
    assert _ids(spark, t) == [0, 1, 2, 3, 4, 5, 10, 11]


# --- S3 conditional-PUT claimer (round 10: the shipped object-store arm)


class _FakeClientError(Exception):
    """botocore.ClientError shape: carries .response['Error']['Code']."""

    def __init__(self, code):
        super().__init__(code)
        self.response = {"Error": {"Code": code}}


class _FakeS3:
    """In-memory S3 implementing the conditional-PUT contract the
    claimer relies on: If-None-Match:* persists exactly one body per
    key under concurrency (412 for the rest), with optional injected
    409 ConditionalRequestConflict storms and a widenable window
    between the existence check and the store (the same
    prove-the-primitive-not-the-timing trick as the link(2) race
    test)."""

    def __init__(self, conflicts=0, window=None):
        import threading

        self.store = {}
        self.puts = 0
        self._lock = threading.Lock()
        self._conflicts = conflicts
        self._window = window

    def put_object(self, Bucket, Key, Body, IfNoneMatch=None):
        assert IfNoneMatch == "*", "claimer must send the precondition"
        self.puts += 1
        if self._conflicts > 0:
            self._conflicts -= 1
            raise _FakeClientError("ConditionalRequestConflict")
        if self._window is not None:
            self._window()  # widen the race window OUTSIDE the lock
        with self._lock:
            if (Bucket, Key) in self.store:
                raise _FakeClientError("PreconditionFailed")
            self.store[(Bucket, Key)] = bytes(Body)
        return {}


def test_s3_claimer_concurrent_writers_one_winner(spark):
    """N threads publish the same log filename through the S3 arm: the
    store must persist exactly one body, exactly one publish returns
    True, and the True-returner's bytes are what readers see."""
    import threading
    import time

    from distributed_mapreduce__spark.sources.txlog import (
        S3ConditionalPutClaimer,
    )

    fake = _FakeS3(window=lambda: time.sleep(0.05))
    claimer = S3ConditionalPutClaimer(client=fake)
    path = "s3a://bucket/t/_txlog/00000000000000000007.json"
    barrier = threading.Barrier(6)
    results = {}

    def writer(tag):
        barrier.wait()
        results[tag] = claimer.publish(spark, None, path, f"w{tag}".encode())

    ts = [threading.Thread(target=writer, args=(i,)) for i in range(6)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert sorted(results.values()) == [False] * 5 + [True], results
    winner = next(t for t, ok in results.items() if ok)
    assert fake.store[("bucket", "t/_txlog/00000000000000000007.json")] == (
        f"w{winner}".encode()
    )


def test_s3_claimer_retries_conflicts_then_resolves(spark):
    from distributed_mapreduce__spark.sources.txlog import (
        S3ConditionalPutClaimer,
    )

    path = "s3a://b/t/_txlog/x.json"
    # 409 storm then success: we won
    fake = _FakeS3(conflicts=3)
    assert S3ConditionalPutClaimer(client=fake).publish(
        spark, None, path, b"one"
    )
    assert fake.puts == 4
    # 409 then 412: someone else won while we were retrying
    fake2 = _FakeS3(conflicts=2)
    fake2.store[("b", "t/_txlog/x.json")] = b"theirs"
    assert not S3ConditionalPutClaimer(client=fake2).publish(
        spark, None, path, b"two"
    )
    assert fake2.store[("b", "t/_txlog/x.json")] == b"theirs"
    # a 409 storm that never resolves raises instead of spinning
    forever = _FakeS3(conflicts=10**9)
    with pytest.raises(RuntimeError, match="ConditionalRequestConflict"):
        S3ConditionalPutClaimer(client=forever).publish(
            spark, None, path, b"x"
        )
    # any OTHER error code propagates — never swallowed into "lost"
    class _Denied:
        def put_object(self, **kw):
            raise _FakeClientError("AccessDenied")

    with pytest.raises(_FakeClientError, match="AccessDenied"):
        S3ConditionalPutClaimer(client=_Denied()).publish(
            spark, None, path, b"x"
        )


def test_s3_claimer_registers_for_scheme(spark):
    """The opt-in registration flips s3a from loud refusal to the
    conditional-PUT arm, end-to-end through _write_atomic."""
    from distributed_mapreduce__spark.sources import txlog

    with pytest.raises(NotImplementedError, match="put-if-absent"):
        txlog._claimer_for("s3a://bucket/t/_txlog/x.json")
    fake = _FakeS3()
    txlog.register_claimer("s3a", txlog.S3ConditionalPutClaimer(client=fake))
    try:
        assert txlog._write_atomic(
            spark, None, "s3a://bucket/t/_txlog/v0.json", b"one"
        )
        assert not txlog._write_atomic(
            spark, None, "s3a://bucket/t/_txlog/v0.json", b"two"
        )
        assert fake.store[("bucket", "t/_txlog/v0.json")] == b"one"
    finally:
        txlog._CLAIMERS.pop("s3a", None)


class _FakeGcsError(Exception):
    def __init__(self, code):
        super().__init__(str(code))
        self.code = code


class _FakeGcs:
    """In-memory GCS client: bucket().blob().upload_from_string with
    if_generation_match=0 semantics — first writer wins, the rest get
    a 412-coded error."""

    def __init__(self):
        import threading

        self.store = {}
        self._lock = threading.Lock()

    def bucket(self, name):
        client = self

        class _Bucket:
            def blob(self, key):
                class _Blob:
                    def upload_from_string(
                        _b, payload, if_generation_match=None
                    ):
                        assert if_generation_match == 0
                        with client._lock:
                            if (name, key) in client.store:
                                raise _FakeGcsError(412)
                            client.store[(name, key)] = (
                                payload
                                if isinstance(payload, bytes)
                                else payload.encode()
                            )

                return _Blob()

        return _Bucket()


def test_gcs_claimer_one_winner_and_error_propagation(spark):
    import threading

    from distributed_mapreduce__spark.sources.txlog import (
        GcsGenerationMatchClaimer,
    )

    fake = _FakeGcs()
    claimer = GcsGenerationMatchClaimer(client=fake)
    path = "gs://bucket/t/_txlog/00000000000000000003.json"
    barrier = threading.Barrier(4)
    results = {}

    def writer(tag):
        barrier.wait()
        results[tag] = claimer.publish(spark, None, path, f"g{tag}".encode())

    ts = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert sorted(results.values()) == [False] * 3 + [True]
    winner = next(t for t, ok in results.items() if ok)
    assert fake.store[
        ("bucket", "t/_txlog/00000000000000000003.json")
    ] == f"g{winner}".encode()

    # non-412 errors propagate, never read as "lost the race"
    class _Denied:
        def bucket(self, name):
            raise _FakeGcsError(403)

    with pytest.raises(_FakeGcsError):
        GcsGenerationMatchClaimer(client=_Denied()).publish(
            spark, None, path, b"x"
        )


def test_incremental_zorder_rewrites_only_new_files(spark, tmp_path):
    """Round 10: incremental OPTIMIZE ZORDER is O(new data) — the
    files a previous same-spec zorder pass produced are never touched
    again; only later appends are re-clustered. Contents stay
    bit-identical, multi-column where-pruning works across clustered
    groups, and the change feed treats the rewrite as a logical no-op
    (bit-identical, like compaction)."""
    import random

    from distributed_mapreduce__spark.sources.txlog import (
        _snapshot_files,
        tx_changes,
        tx_optimize_zorder,
        tx_read,
    )

    rng = random.Random(7)
    t = str(tmp_path / "t")
    rows = [(rng.randrange(256), rng.randrange(256)) for _ in range(3000)]
    df = spark.createDataFrame(rows, "x int, y int")
    tx_write(df, t)
    v1 = tx_optimize_zorder(spark, t, ["x", "y"], n_files=8)
    assert v1 is not None
    clustered_after_full = set(_snapshot_files(spark, t)[0])

    # nothing new → incremental pass is a no-op
    assert (
        tx_optimize_zorder(spark, t, ["x", "y"], n_files=8, incremental=True)
        is None
    )

    # append fresh data, then incrementally cluster: the first pass's
    # files survive untouched
    rows2 = [(rng.randrange(256), rng.randrange(256)) for _ in range(2000)]
    tx_write(spark.createDataFrame(rows2, "x int, y int"), t)
    v2 = tx_optimize_zorder(
        spark, t, ["x", "y"], n_files=4, incremental=True
    )
    assert v2 is not None
    now = set(_snapshot_files(spark, t)[0])
    assert clustered_after_full < now  # old clustered files untouched

    # contents bit-identical through both passes
    got = sorted((r.x, r.y) for r in tx_read(spark, t).collect())
    assert got == sorted(rows + rows2)

    # multi-column conjunct pruning spans both clustered groups
    want = [(x, y) for x, y in rows + rows2 if 10 <= x <= 20 and 200 <= y]
    pruned = tx_read(
        spark, t, where=[("x", 10, 20), ("y", 200, None)]
    )
    assert sorted((r.x, r.y) for r in pruned.collect()) == sorted(want)
    # and it actually pruned: the scan reads fewer files than live
    assert len(pruned.inputFiles()) < len(now)

    # the change feed checkpoints past zorder commits (bit-identical)
    df3, cursor = tx_changes(spark, t, v1)
    assert sorted((r.x, r.y) for r in df3.collect()) == sorted(rows2)
    assert cursor >= v2


def test_maintain_with_incremental_zorder(spark, tmp_path):
    """tx_maintain(zorder_cols=...) composes the runbook: settle →
    compact → INCREMENTAL re-cluster → vacuum. A second maintenance
    pass with no new data does no clustering work; contents stay
    bit-identical; where-pruning works after maintenance."""
    import random

    from distributed_mapreduce__spark.sources.txlog import (
        tx_maintain,
        tx_read,
    )

    rng = random.Random(11)
    t = str(tmp_path / "t")
    all_rows = []
    for batch in range(4):
        rows = [
            (rng.randrange(128), rng.randrange(128)) for _ in range(800)
        ]
        all_rows += rows
        tx_write(
            spark.createDataFrame(rows, "x int, y int").repartition(4), t
        )
    r = tx_maintain(
        spark, t, max_live_files=8, compact_target=2,
        zorder_cols=["x", "y"],
    )
    assert r["zordered"] and r["files_after"] <= 8
    got = sorted((q.x, q.y) for q in tx_read(spark, t).collect())
    assert got == sorted(all_rows)

    # quiet second pass: nothing to settle, compact, or cluster
    r2 = tx_maintain(
        spark, t, max_live_files=8, compact_target=2,
        zorder_cols=["x", "y"],
    )
    assert not r2["zordered"] and r2["compactions"] == 0

    # pruned read stays exact after the full runbook
    want = [(x, y) for x, y in all_rows if x <= 10 and y >= 100]
    pruned = tx_read(spark, t, where=[("x", None, 10), ("y", 100, None)])
    assert sorted((q.x, q.y) for q in pruned.collect()) == sorted(want)


def test_table_properties_set_unset_persist(spark, tmp_path):
    """Round 10 TBLPROPERTIES: meta commits merge key-deltas, None
    unsets, the folded map survives checkpoint + vacuum AND data
    overwrites, and meta commits are logical no-ops in both change
    feeds."""
    from distributed_mapreduce__spark.sources.txlog import (
        tx_changes,
        tx_changes_cdf,
        tx_properties,
        tx_set_properties,
    )

    t = str(tmp_path / "t")
    tx_write(_df(spark, 0, 3, "a"), t)
    tx_set_properties(spark, t, {"owner": "etl", "cdf.enabled": "false"})
    tx_set_properties(spark, t, {"owner": None, "ttl.days": 7})
    assert tx_properties(spark, t) == {
        "cdf.enabled": "false",
        "ttl.days": 7,
    }
    # a data overwrite does NOT reset properties
    tx_write(_df(spark, 10, 12, "b"), t, mode="overwrite")
    assert tx_properties(spark, t)["ttl.days"] == 7
    # survives checkpoint folding + log truncation
    tx_vacuum(spark, t)
    assert tx_properties(spark, t) == {
        "cdf.enabled": "false",
        "ttl.days": 7,
    }
    # feeds checkpoint past meta commits
    v = tx_set_properties(spark, t, {"note": "x"})
    df, cursor = tx_changes(spark, t, v - 1)
    assert df is None and cursor >= v
    frames = list(tx_changes_cdf(spark, t, v - 1))
    assert frames and frames[0][1] is None


def test_cdf_enabled_property_is_the_default(spark, tmp_path):
    """cdf.enabled=false makes rewrites skip sidecars by default (the
    feed then honestly raises); the per-call cdf= argument overrides
    the property in both directions."""
    from distributed_mapreduce__spark.sources.txlog import (
        tx_changes_cdf,
        tx_delete,
        tx_merge,
        tx_set_properties,
    )

    t = str(tmp_path / "t")
    tx_write(_df(spark, 0, 5, "a"), t)
    tx_set_properties(spark, t, {"cdf.enabled": False})
    v = tx_merge(_df(spark, 1, 3, "u"), t, "id")  # property says no cdf
    with pytest.raises(ValueError, match="no cdf sidecar"):
        list(tx_changes_cdf(spark, t, v - 1))
    # per-call override wins over the property
    v2 = tx_merge(_df(spark, 3, 4, "w"), t, "id", cdf=True)
    frames = list(tx_changes_cdf(spark, t, v2 - 1))
    assert frames[0][1] == "cdf"
    # flipping the property back restores the default-on behavior
    tx_set_properties(spark, t, {"cdf.enabled": None})
    v3 = tx_delete(_keys_tp(spark, [0]), t, "id")
    frames3 = list(tx_changes_cdf(spark, t, v3 - 1))
    assert frames3[-1][1] == "delete"


def _keys_tp(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "id long")


def test_abfs_claimer_one_winner_and_error_propagation(spark):
    import threading

    from distributed_mapreduce__spark.sources.txlog import (
        AbfsIfNoneMatchClaimer,
    )

    class _ExistsError(Exception):
        status_code = 409

    _ExistsError.__name__ = "ResourceExistsError"

    class _FakeAbfs:
        def __init__(self):
            self.store = {}
            self._lock = threading.Lock()

        def get_blob_client(self, container, blob):
            client = self

            class _Blob:
                def upload_blob(_b, payload, overwrite=None):
                    assert overwrite is False
                    with client._lock:
                        if (container, blob) in client.store:
                            raise _ExistsError()
                        client.store[(container, blob)] = bytes(payload)

            return _Blob()

    fake = _FakeAbfs()
    claimer = AbfsIfNoneMatchClaimer(client=fake)
    # the abfss authority carries container@account — the container is
    # parsed out of it
    path = (
        "abfss://logs@acct.dfs.core.windows.net/t/_txlog/"
        "00000000000000000002.json"
    )
    barrier = threading.Barrier(4)
    results = {}

    def writer(tag):
        barrier.wait()
        results[tag] = claimer.publish(spark, None, path, f"b{tag}".encode())

    ts = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert sorted(results.values()) == [False] * 3 + [True]
    winner = next(t for t, ok in results.items() if ok)
    key = ("logs", "t/_txlog/00000000000000000002.json")
    assert fake.store[key] == f"b{winner}".encode()

    class _Denied:
        def get_blob_client(self, container, blob):
            raise PermissionError("denied")

    with pytest.raises(PermissionError):
        AbfsIfNoneMatchClaimer(client=_Denied()).publish(
            spark, None, path, b"x"
        )


# --- round 11: evolved-schema rewrites, commit-time recheck, no-op ---
# --- deletes in the feed, vacuum grace window ------------------------


def test_merge_preserves_evolved_columns(spark, tmp_path):
    """ADVICE r10 (high): a rewrite on an evolved table must read its
    touched files with footer merging, or survivor rows from the newer
    generation silently LOSE the evolved column (spark.read with one
    file's schema drops the rest). Construct a merge whose touched set
    spans both generations and pin the evolved values through it."""
    from distributed_mapreduce__spark.sources.txlog import tx_merge

    t = str(tmp_path / "t")
    tx_write(_df(spark, 0, 5, "g1"), t)
    gen2 = _df(spark, 5, 10, "g2").withColumn(
        "extra", F.concat(F.lit("x"), F.col("id"))
    )
    tx_write(gen2, t, schema_mode="merge")
    # updates span BOTH generations (ids 2 and 7) so the touched file
    # set mixes schemas; updates carry the table's full merged schema
    updates = spark.createDataFrame(
        [(2, "upd", None), (7, "upd", "x7new")],
        "id long, tag string, extra string",
    )
    tx_merge(updates, t, "id")
    rows = {r.id: r for r in tx_read(spark, t).collect()}
    assert len(rows) == 10
    # survivor rows from generation 2 KEEP their evolved values
    assert rows[8].extra == "x8" and rows[9].extra == "x9"
    assert rows[7].extra == "x7new" and rows[2].extra is None
    assert rows[2].tag == "upd" and rows[7].tag == "upd"


def test_merge_cdf_preimages_carry_evolved_columns(spark, tmp_path):
    """The CDF sidecar of a merge on an evolved table must carry the
    evolved column in its pre-images (same footer-merge fix)."""
    from distributed_mapreduce__spark.sources.txlog import (
        tx_changes_cdf,
        tx_merge,
    )

    t = str(tmp_path / "t")
    tx_write(_df(spark, 0, 5, "g1"), t)
    tx_write(
        _df(spark, 5, 10, "g2").withColumn(
            "extra", F.concat(F.lit("x"), F.col("id"))
        ),
        t,
        schema_mode="merge",
    )
    updates = spark.createDataFrame(
        [(2, "upd", "e2"), (7, "upd", "e7")],
        "id long, tag string, extra string",
    )
    v = tx_merge(updates, t, "id")
    frames = [
        (kind, df) for _, kind, df in tx_changes_cdf(spark, t, v - 1)
    ]
    assert frames[0][0] == "cdf"
    cdf = frames[0][1]
    assert "extra" in cdf.columns
    pre = {
        r.id: r.extra
        for r in cdf.filter(F.col("_change_type") == "update_preimage").collect()
    }
    # the generation-2 pre-image keeps its evolved value
    assert pre[7] == "x7"


def test_merge_refuses_updates_missing_evolved_columns(spark, tmp_path):
    """Rewrites never evolve the schema: on a schema-recorded table,
    merge updates must carry exactly the merged field set."""
    from distributed_mapreduce__spark.sources.txlog import tx_merge

    t = str(tmp_path / "t")
    tx_write(_df(spark, 0, 5, "g1"), t)
    tx_write(
        _df(spark, 5, 10, "g2").withColumn("extra", F.lit("x")),
        t,
        schema_mode="merge",
    )
    with pytest.raises(ValueError, match="does not match the table"):
        tx_merge(_df(spark, 2, 3, "upd"), t, "id")


def test_compact_preserves_evolved_columns(spark, tmp_path):
    """Compaction reads mixed-schema inputs with footer merging —
    bit-identical contents includes the evolved column."""
    from distributed_mapreduce__spark.sources.txlog import tx_compact

    t = str(tmp_path / "t")
    tx_write(_df(spark, 0, 5, "g1"), t)
    tx_write(
        _df(spark, 5, 10, "g2").withColumn(
            "extra", F.concat(F.lit("x"), F.col("id"))
        ),
        t,
        schema_mode="merge",
    )
    before = {
        (r.id, r.tag, r.extra) for r in tx_read(spark, t).collect()
    }
    assert tx_compact(spark, t, target_files=1) is not None
    after = {(r.id, r.tag, r.extra) for r in tx_read(spark, t).collect()}
    assert after == before
    assert any(e == "x8" for _, _, e in after)


def test_append_schema_rechecked_at_commit_time(spark, tmp_path, monkeypatch):
    """ADVICE r10 (medium): an enforce-mode append racing a concurrent
    overwrite that RETYPES a column must refuse at commit time — the
    pre-stage check alone would let mixed-type live files land."""
    from distributed_mapreduce__spark.sources import txlog

    t = str(tmp_path / "t")
    tx_write(
        spark.createDataFrame([(1, 5)], "id long, v int"), t
    )
    real_stage = txlog._stage_and_place
    fired = {}

    def stage_with_retype(df, path, partition_by=None):
        out = real_stage(df, path, partition_by)
        if "done" not in fired:
            fired["done"] = True
            # a concurrent overwrite retypes v int -> string AFTER our
            # pre-stage schema check passed
            tx_write(
                spark.createDataFrame([(9, "nine")], "id long, v string"),
                path,
                mode="overwrite",
            )
        return out

    monkeypatch.setattr(txlog, "_stage_and_place", stage_with_retype)
    with pytest.raises(ValueError, match="TYPE"):
        tx_write(spark.createDataFrame([(2, 6)], "id long, v int"), t)


def test_empty_cow_delete_without_cdf_is_noop_frame(spark, tmp_path):
    """ADVICE r10 (low): a copy-on-write delete whose keys touch no
    file commits an empty 'delete'; the change feeds must checkpoint
    past it even when written with cdf=False (no marker at all)."""
    from distributed_mapreduce__spark.sources.txlog import (
        tx_changes,
        tx_changes_cdf,
        tx_delete,
    )

    t = str(tmp_path / "t")
    v0 = tx_write(_df(spark, 0, 5, "a"), t, stats_cols=["id"])
    v1 = tx_delete(
        spark.createDataFrame([(999,)], "id long"), t, "id", cdf=False
    )
    frames = list(tx_changes_cdf(spark, t, v0))
    assert frames == [(v1, None, None)]
    df, cursor = tx_changes(spark, t, v0)
    assert df is None and cursor == v1


def test_vacuum_grace_spares_young_orphans(spark, tmp_path):
    """Orphan files younger than grace_seconds survive the sweep (the
    in-flight rewrite's stage-to-commit window); a graceless vacuum
    takes them."""
    import shutil

    t = str(tmp_path / "t")
    tx_write(_df(spark, 0, 5, "a"), t)
    # forge orphans with FRESH mtimes: a data file and a cdf sidecar
    src = next(
        f for f in __import__("glob").glob(f"{t}/data/*.parquet")
    )
    shutil.copy(src, f"{t}/data/orphan.parquet")
    __import__("os").makedirs(f"{t}/_cdf", exist_ok=True)
    shutil.copy(src, f"{t}/_cdf/orphan.parquet")
    deleted = tx_vacuum(spark, t, grace_seconds=3600)
    assert not any("orphan" in d for d in deleted)
    assert __import__("os").path.exists(f"{t}/data/orphan.parquet")
    deleted = tx_vacuum(spark, t)
    assert any("data/orphan.parquet" in d for d in deleted)
    assert any("_cdf/orphan.parquet" in d for d in deleted)


# --- round 11: timestamp time travel ---------------------------------


def test_timestamp_time_travel_boundaries(spark, tmp_path, monkeypatch):
    """tx_read(as_of_ts=): between-commit timestamps resolve to the
    snapshot live at that instant; pre-first-commit raises; after the
    last commit reads latest; version= and as_of_ts= are exclusive."""
    from distributed_mapreduce__spark.sources import txlog

    state = {"h": 10.0}
    monkeypatch.setattr(txlog, "_now", lambda: state["h"] * 3600.0)
    t = str(tmp_path / "t")
    tx_write(_df(spark, 0, 3, "v0"), t)          # ts = 10h
    state["h"] = 20.0
    tx_write(_df(spark, 3, 6, "v1"), t)          # ts = 20h
    state["h"] = 30.0
    tx_write(_df(spark, 100, 102, "v2"), t, mode="overwrite")  # 30h

    def at(h):
        return _ids(spark, t) if h is None else sorted(
            r.id for r in tx_read(spark, t, as_of_ts=h * 3600.0).collect()
        )

    assert at(10.0) == [0, 1, 2]        # exactly the commit instant
    assert at(15.0) == [0, 1, 2]        # between v0 and v1 → v0 live
    assert at(20.0) == [0, 1, 2, 3, 4, 5]
    assert at(25.0) == [0, 1, 2, 3, 4, 5]
    assert at(30.0) == [100, 101]
    assert at(99.0) == [100, 101]       # future ts → latest
    with pytest.raises(ValueError, match="no version .* existed"):
        tx_read(spark, t, as_of_ts=5.0 * 3600.0)
    with pytest.raises(ValueError, match="not both"):
        tx_read(spark, t, version=0, as_of_ts=10.0 * 3600.0)


def test_timestamp_restore_and_skew_refusal(spark, tmp_path, monkeypatch):
    """tx_restore(to_ts=) restores the snapshot live at the instant;
    non-monotonic commit stamps refuse timestamp travel (version
    travel keeps working)."""
    from distributed_mapreduce__spark.sources import txlog

    state = {"h": 10.0}
    monkeypatch.setattr(txlog, "_now", lambda: state["h"] * 3600.0)
    t = str(tmp_path / "t")
    tx_write(_df(spark, 0, 3, "v0"), t)
    state["h"] = 20.0
    tx_write(_df(spark, 100, 103, "v1"), t, mode="overwrite")
    state["h"] = 21.0
    txlog.tx_restore(spark, t, to_ts=15.0 * 3600.0)
    assert _ids(spark, t) == [0, 1, 2]

    # clock skew: a later commit stamped EARLIER poisons the ts map
    state["h"] = 5.0
    tx_write(_df(spark, 7, 8, "skew"), t)
    with pytest.raises(ValueError, match="non-monotonic"):
        tx_read(spark, t, as_of_ts=20.0 * 3600.0)
    assert _ids(spark, t, version=0) == [0, 1, 2]  # version travel fine


# --- round 11: writer-feature guard -----------------------------------


def test_writer_feature_guard_refuses_unknown_features(spark, tmp_path):
    """A table stamped with a writer feature this build lacks refuses
    EVERY write operation — but reads keep working (reader and writer
    guards are independent), and legacy tables pass through."""
    from distributed_mapreduce__spark.sources.txlog import (
        tx_compact,
        tx_delete,
        tx_merge,
        tx_set_properties,
        tx_vacuum,
    )

    t = str(tmp_path / "t")
    tx_write(_df(spark, 0, 5, "a").coalesce(1), t)
    tx_set_properties(spark, t, {"writer.features": ["deletion-vectors-v9"]})
    for op in (
        lambda: tx_write(_df(spark, 5, 6, "b"), t),
        lambda: tx_merge(_df(spark, 0, 1, "m"), t, "id"),
        lambda: tx_delete(spark.createDataFrame([(1,)], "id long"), t, "id"),
        lambda: tx_compact(spark, t),
        lambda: tx_vacuum(spark, t),
        lambda: tx_set_properties(spark, t, {"x": "y"}),
    ):
        with pytest.raises(RuntimeError, match="deletion-vectors-v9"):
            op()
    # reads are unaffected
    assert _ids(spark, t) == [0, 1, 2, 3, 4]
    assert len(tx_history(spark, t)) == 2


def test_writer_features_auto_stamp_on_use(spark, tmp_path):
    """Using a guarded feature stamps its requirement: a partitioned
    write records 'partitioning', a CDF merge records 'cdf', a
    merge-on-read delete records 'mor', a schema-evolving append
    records 'schema-evolution' — union-merged, first use only."""
    from distributed_mapreduce__spark.sources.txlog import (
        tx_delete,
        tx_merge,
        tx_properties,
    )

    t = str(tmp_path / "t")
    tx_write(
        spark.range(0, 4).select(
            "id", (F.col("id") % 2).alias("k"), F.lit("a").alias("tag")
        ),
        t,
        partition_by=["k"],
    )
    assert tx_properties(spark, t)["writer.features"] == ["partitioning"]
    tx_write(
        spark.range(4, 6).select(
            "id", (F.col("id") % 2).alias("k"), F.lit("a").alias("tag"),
            F.lit(1.5).alias("extra"),
        ),
        t,
        schema_mode="merge",
    )
    assert tx_properties(spark, t)["writer.features"] == [
        "partitioning", "schema-evolution",
    ]
    upd = spark.createDataFrame(
        [(0, 0, "u", 9.9)], "id long, k long, tag string, extra double"
    )
    tx_merge(upd, t, "id", cdf=True)
    assert "cdf" in tx_properties(spark, t)["writer.features"]

    t2 = str(tmp_path / "t2")
    tx_write(_df(spark, 0, 5, "a"), t2)
    tx_delete(
        spark.createDataFrame([(1,)], "id long"), t2, "id",
        mode="merge_on_read",
    )
    assert tx_properties(spark, t2)["writer.features"] == ["mor"]


def test_require_writer_features_explicit_and_capable_build_writes(
    spark, tmp_path
):
    """Both directions: requiring features THIS build has is fine and
    later writes proceed; requiring one it lacks raises immediately."""
    from distributed_mapreduce__spark.sources.txlog import (
        tx_require_writer_features,
    )

    t = str(tmp_path / "t")
    tx_write(_df(spark, 0, 3, "a"), t)
    tx_require_writer_features(spark, t, ["cdf", "partitioning"])
    tx_write(_df(spark, 3, 5, "b"), t)  # capable build: writes proceed
    assert _ids(spark, t) == [0, 1, 2, 3, 4]
    with pytest.raises(ValueError, match="does not support"):
        tx_require_writer_features(spark, t, ["time-crystals"])


def test_writer_features_fold_is_union_not_lww(spark, tmp_path):
    """ADVICE r11 (medium): two concurrent writers each auto-stamp a
    DIFFERENT feature from the same pre-commit snapshot — the replay
    fold must union the writer.features key, not last-write-wins,
    or the later commit silently un-requires the earlier feature.
    Simulated by two property commits whose deltas each carry only
    their own feature; an explicit unset (None) still drops them."""
    from distributed_mapreduce__spark.sources.txlog import (
        tx_properties,
        tx_set_properties,
    )

    t = str(tmp_path / "t")
    tx_write(_df(spark, 0, 3, "a"), t)
    tx_set_properties(spark, t, {"writer.features": ["cdf"]})
    tx_set_properties(spark, t, {"writer.features": ["partitioning"]})
    assert tx_properties(spark, t)["writer.features"] == [
        "cdf", "partitioning",
    ]
    tx_set_properties(spark, t, {"writer.features": None})
    assert "writer.features" not in tx_properties(spark, t)


def test_idempotent_retry_survives_feature_upgrade(spark, tmp_path):
    """ADVICE r11 (low): a retry of an ALREADY-committed txn is a
    read-only no-op and must return the prior version even after the
    table stamped a writer feature this build lacks (crashed job,
    table upgraded, retry loop resumes); only genuinely NEW writes
    refuse."""
    from distributed_mapreduce__spark.sources.txlog import (
        tx_set_properties,
    )

    from distributed_mapreduce__spark.sources.txlog import tx_merge

    t = str(tmp_path / "t")
    v = tx_write(_df(spark, 0, 5, "a"), t, txn="job-42")
    vm = tx_merge(_df(spark, 0, 2, "m"), t, "id", txn="job-44")
    tx_set_properties(spark, t, {"writer.features": ["from-the-future"]})
    assert tx_write(_df(spark, 0, 5, "a"), t, txn="job-42") == v
    assert tx_merge(_df(spark, 0, 2, "m"), t, "id", txn="job-44") == vm
    with pytest.raises(RuntimeError, match="from-the-future"):
        tx_write(_df(spark, 5, 6, "b"), t, txn="job-43")
    assert _ids(spark, t) == [0, 1, 2, 3, 4]


def test_rewrite_rechecks_features_at_commit_time(
    spark, tmp_path, during_publish
):
    """ADVICE r11 (low): a rewrite planned before the table stamped an
    unsupported writer feature must refuse at commit time — the
    _commit_rewrite retry loop re-validates properties whenever the
    log advanced past the prepare snapshot (same rule as tx_write's
    revalidate)."""
    from distributed_mapreduce__spark.sources.txlog import (
        tx_merge,
        tx_set_properties,
    )

    t = str(tmp_path / "t")
    tx_write(_df(spark, 0, 10, "a").coalesce(1), t)
    # the table is upgraded while the merge is in flight
    during_publish(lambda: tx_set_properties(
        spark, t, {"writer.features": ["quantum-mor"]}
    ))
    with pytest.raises(RuntimeError, match="quantum-mor"):
        tx_merge(_df(spark, 3, 5, "upd"), t, "id", cdf=False)
    # nothing committed: the table still reads as before
    assert _ids(spark, t) == list(range(10))
