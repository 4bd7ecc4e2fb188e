"""Multi-table transactions (sources/multitx): all participant tables
become visible together or not at all — across crashes at any point —
with commit-vs-abort arbitrated by one put-if-absent coordinator slot,
and vacuum/checkpoint interlocks protecting in-flight transactions."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from distributed_mapreduce__spark.sources import multitx, txlog
from distributed_mapreduce__spark.sources.multitx import (
    MultiTxAborted,
    tx_multi,
    tx_multi_abort,
    tx_multi_pending,
    tx_multi_status,
)
from distributed_mapreduce__spark.sources.txlog import (
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
    return sorted(r.id for r in tx_read(spark, path, version).collect())


def _crash_mid_flight(spark, tmp_path, monkeypatch, txid):
    """Run tx_multi up to (but not through) the coordinator publish —
    the per-table provisional commits land, then the 'process dies'."""
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    tx_write(_df(spark, 0, 2, "seed"), a)
    tx_write(_df(spark, 0, 3, "seed"), b)
    coord = str(tmp_path / "catalog")

    real = multitx._write_atomic

    def dying_publish(spark_, fs, path, payload):
        if "_multitx/" in path:
            raise RuntimeError("simulated crash before coordinator publish")
        return real(spark_, fs, path, payload)

    monkeypatch.setattr(multitx, "_write_atomic", dying_publish)
    with pytest.raises(RuntimeError, match="simulated crash"):
        tx_multi(
            {a: _df(spark, 10, 12, "tx"), b: _df(spark, 20, 24, "tx")},
            coord,
            txn=txid,
        )
    monkeypatch.setattr(multitx, "_write_atomic", real)
    return a, b, coord


def test_atomic_two_table_append(spark, tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    tx_write(_df(spark, 0, 2, "seed"), a)
    coord = str(tmp_path / "catalog")
    versions = tx_multi(
        {a: _df(spark, 10, 13, "tx"), b: _df(spark, 20, 22, "tx")},
        coord,
        txn="t1",
        stats_cols=["id"],
    )
    assert versions[a] == 1 and versions[b] == 0  # b born in the txn
    assert _ids(spark, a) == [0, 1, 10, 11, 12]
    assert _ids(spark, b) == [20, 21]
    assert tx_multi_status(spark, coord, "t1") == {
        "status": "committed",
        "tables": versions,
    }
    hist = tx_history(spark, a)
    assert hist[-1]["multi_status"] == "committed"
    assert hist[-1]["txn"] == "multi:t1"
    # idempotent replay: same txn returns the SAME versions, no new
    # commits on either table
    again = tx_multi(
        {a: _df(spark, 10, 13, "tx"), b: _df(spark, 20, 22, "tx")},
        coord,
        txn="t1",
    )
    assert again == versions
    assert len(tx_history(spark, a)) == len(hist)
    # time travel: the pre-txn version of a excludes the txn's rows
    assert _ids(spark, a, version=0) == [0, 1]


def test_crash_before_publish_leaves_nothing_visible(
    spark, tmp_path, monkeypatch
):
    a, b, coord = _crash_mid_flight(spark, tmp_path, monkeypatch, "t2")
    # provisional commits exist but NO table shows the transaction
    assert _ids(spark, a) == [0, 1]
    assert _ids(spark, b) == [0, 1, 2]
    assert tx_multi_status(spark, coord, "t2")["status"] == "pending"
    pend = tx_multi_pending(spark, a)
    assert len(pend) == 1 and pend[0]["txid"] == "t2"
    # retry with the SAME txn resumes the provisional commits (no
    # double-append) and completes the transaction
    versions = tx_multi(
        {a: _df(spark, 10, 12, "tx"), b: _df(spark, 20, 24, "tx")},
        coord,
        txn="t2",
    )
    assert _ids(spark, a) == [0, 1, 10, 11]
    assert _ids(spark, b) == [0, 1, 2, 20, 21, 22, 23]
    assert tx_multi_pending(spark, a) == []
    # the resumed run reused the crashed attempt's provisional commits
    assert versions[a] == tx_history(spark, a)[-1]["version"]


def test_abort_kills_pending_and_blocks_retry(spark, tmp_path, monkeypatch):
    a, b, coord = _crash_mid_flight(spark, tmp_path, monkeypatch, "t3")
    assert tx_multi_abort(spark, coord, "t3") is True
    assert tx_multi_status(spark, coord, "t3")["status"] == "aborted"
    # nothing ever becomes visible, and a retry refuses loudly
    assert _ids(spark, a) == [0, 1]
    with pytest.raises(MultiTxAborted):
        tx_multi(
            {a: _df(spark, 10, 12, "tx"), b: _df(spark, 20, 24, "tx")},
            coord,
            txn="t3",
        )
    # the aborted transaction is terminal: vacuum folds the log and
    # collects its provisional data files
    before = len(txlog._all_data_files(spark, a))
    deleted = tx_vacuum(spark, a)
    assert len(deleted) == before - len(txlog._snapshot_files(spark, a)[0])
    assert _ids(spark, a) == [0, 1]
    assert tx_multi_pending(spark, a) == []


def test_abort_after_commit_is_too_late(spark, tmp_path):
    a = str(tmp_path / "a")
    coord = str(tmp_path / "catalog")
    tx_multi({a: _df(spark, 0, 5, "tx")}, coord, txn="t4")
    assert tx_multi_abort(spark, coord, "t4") is False
    assert _ids(spark, a) == [0, 1, 2, 3, 4]
    assert tx_multi_status(spark, coord, "t4")["status"] == "committed"


def test_vacuum_and_checkpoint_protect_inflight_txn(
    spark, tmp_path, monkeypatch
):
    a, b, coord = _crash_mid_flight(spark, tmp_path, monkeypatch, "t5")
    # checkpoint refuses to fold the undecided commit
    latest = txlog._snapshot_files(spark, a)[1]
    assert txlog._write_checkpoint(spark, a, latest) is False
    # vacuum must neither delete the provisional files nor truncate
    n_files = len(txlog._all_data_files(spark, a))
    n_commits = len(txlog._list_commits(spark, a))
    assert tx_vacuum(spark, a) == []
    assert len(txlog._all_data_files(spark, a)) == n_files
    assert len(txlog._list_commits(spark, a)) == n_commits
    # resolution unblocks both: finish the txn, then checkpoint folds
    tx_multi(
        {a: _df(spark, 10, 12, "tx"), b: _df(spark, 20, 24, "tx")},
        coord,
        txn="t5",
    )
    assert txlog._write_checkpoint(spark, a, latest) is True
    tx_vacuum(spark, a)
    assert _ids(spark, a) == [0, 1, 10, 11]


def test_interleaves_with_plain_writes(spark, tmp_path, monkeypatch):
    """Plain tx_write traffic flows THROUGH a pending transaction:
    later single-table commits stay visible while the multi commit
    stays invisible, and resolution slots the txn's rows in without
    disturbing either side."""
    a, b, coord = _crash_mid_flight(spark, tmp_path, monkeypatch, "t6")
    tx_write(_df(spark, 100, 103, "after"), a)
    assert _ids(spark, a) == [0, 1, 100, 101, 102]
    tx_multi(
        {a: _df(spark, 10, 12, "tx"), b: _df(spark, 20, 24, "tx")},
        coord,
        txn="t6",
    )
    assert _ids(spark, a) == [0, 1, 10, 11, 100, 101, 102]
    # history shows all three commits in version order
    assert [h["action"] for h in tx_history(spark, a)] == [
        "append", "append", "append"
    ]


def test_empty_participant_and_validation(spark, tmp_path):
    a = str(tmp_path / "a")
    coord = str(tmp_path / "catalog")
    with pytest.raises(ValueError, match="at least one table"):
        tx_multi({}, coord)
    versions = tx_multi(
        {a: _df(spark, 0, 0, "empty")}, coord, txn="t7"
    )
    assert versions[a] == 0  # an empty append is a legal commit
    assert tx_multi_status(spark, coord, "t7")["status"] == "committed"


def test_streaming_fanout_exactly_once_across_tables(spark, tmp_path):
    """The multi-sink streaming contract: foreachBatch routes each
    micro-batch into TWO tables through one tx_multi (txn=batch id).
    A checkpoint restart re-offers batches — both tables must stay
    exactly-once, and no batch may ever land in one table but not the
    other (the single-sink idiom can't promise that; the coordinator
    record makes it structural)."""
    src = str(tmp_path / "src")
    evens, odds = str(tmp_path / "evens"), str(tmp_path / "odds")
    coord = str(tmp_path / "catalog")
    ckpt = str(tmp_path / "ck")
    full = _df(spark, 0, 30, "s")
    full.repartition(3).write.mode("overwrite").parquet(src)

    def route(df, bid):
        tx_multi(
            {
                evens: df.filter(F.col("id") % 2 == 0),
                odds: df.filter(F.col("id") % 2 == 1),
            },
            coord,
            txn=f"b{bid}",
        )

    def start():
        stream = (
            spark.readStream.schema(full.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        return (
            stream.writeStream.foreachBatch(route)
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert _ids(spark, evens) == list(range(0, 30, 2))
    assert _ids(spark, odds) == list(range(1, 30, 2))
    q2 = start()  # restart: batches re-offered → still exactly-once
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert _ids(spark, evens) == list(range(0, 30, 2))
    assert _ids(spark, odds) == list(range(1, 30, 2))
    # every batch committed atomically: the two tables hold the SAME
    # transaction ids
    a = {h["txn"] for h in txlog.tx_history(spark, evens)}
    b = {h["txn"] for h in txlog.tx_history(spark, odds)}
    assert a == b and len(a) == 3  # one per micro-batch (3 src files)


def test_multi_overwrite_is_atomic_across_tables(spark, tmp_path, monkeypatch):
    """Round 10 (the r9 'append-only' gap, overwrite half): one
    transaction atomically REPLACES a dimension snapshot while
    appending fact deltas — neither side visible until the coordinator
    record lands, both after, and a crash between the table commits
    and the record leaves BOTH tables on their old snapshots."""
    from distributed_mapreduce__spark.sources import multitx
    from distributed_mapreduce__spark.sources.multitx import tx_multi
    from distributed_mapreduce__spark.sources.txlog import tx_read, tx_write

    dim, fact = str(tmp_path / "dim"), str(tmp_path / "fact")
    coord = str(tmp_path / "cat")
    tx_write(_df(spark, 0, 3, "old"), dim)
    tx_write(_df(spark, 100, 102, "f0"), fact)

    def ids(path):
        return sorted(r.id for r in tx_read(spark, path).collect())

    # crash BEFORE the coordinator publish: nothing changed anywhere
    real = multitx._write_atomic

    def dying(spark_, fs, path, payload):
        if "_multitx/" in path:
            raise RuntimeError("crash before record")
        return real(spark_, fs, path, payload)

    monkeypatch.setattr(multitx, "_write_atomic", dying)
    with pytest.raises(RuntimeError, match="crash before record"):
        tx_multi(
            {dim: _df(spark, 10, 13, "new"), fact: _df(spark, 102, 104, "f1")},
            coord,
            txn="swap1",
            modes={dim: "overwrite"},
        )
    monkeypatch.setattr(multitx, "_write_atomic", real)
    assert ids(dim) == [0, 1, 2] and ids(fact) == [100, 101]

    # the retry completes: the dim snapshot is REPLACED and the fact
    # rows appended, atomically; a re-retry is a no-op
    v = tx_multi(
        {dim: _df(spark, 10, 13, "new"), fact: _df(spark, 102, 104, "f1")},
        coord,
        txn="swap1",
        modes={dim: "overwrite"},
    )
    assert ids(dim) == [10, 11, 12] and ids(fact) == [100, 101, 102, 103]
    assert (
        tx_multi(
            {dim: _df(spark, 10, 13, "new"), fact: _df(spark, 102, 104, "f1")},
            coord,
            txn="swap1",
            modes={dim: "overwrite"},
        )
        == v
    )
    assert ids(dim) == [10, 11, 12] and ids(fact) == [100, 101, 102, 103]
    # time travel to the pre-swap dim snapshot still works
    assert sorted(
        r.id for r in tx_read(spark, dim, version=0).collect()
    ) == [0, 1, 2]

    # bad mode refused loudly; merge without its key too
    with pytest.raises(ValueError, match="append|overwrite|merge"):
        tx_multi(
            {dim: _df(spark, 0, 1, "x")},
            coord,
            modes={dim: "truncate"},
        )
    with pytest.raises(ValueError, match="merge_keys"):
        tx_multi(
            {dim: _df(spark, 0, 1, "x")},
            coord,
            modes={dim: "merge"},
        )


def test_multi_merge_atomic_and_conflict_guards(spark, tmp_path, monkeypatch):
    """Multi-table MERGE (round 11): both tables' upserts become
    visible atomically; a crash before the coordinator publish leaves
    BOTH tables showing pre-merge rows (provisional rewrites
    invisible); while pending, an overlapping single-table rewrite is
    refused loudly (the cross-table serializability guard); a
    same-txn retry resumes and completes."""
    from distributed_mapreduce__spark.sources.txlog import tx_merge

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    coord = str(tmp_path / "catalog")
    # cdf off: these tables aren't piped, keep the test focused
    tx_write(
        _df(spark, 0, 5, "seed"), a, stats_cols=["id"]
    )
    tx_write(_df(spark, 0, 5, "seed"), b, stats_cols=["id"])
    txlog.tx_set_properties(spark, a, {"cdf.enabled": False})
    txlog.tx_set_properties(spark, b, {"cdf.enabled": False})

    def tags(path):
        return {r.id: r.tag for r in tx_read(spark, path).collect()}

    # happy path: atomic upsert on both tables
    tx_multi(
        {a: _df(spark, 3, 7, "m1"), b: _df(spark, 0, 2, "m1")},
        coord,
        txn="mm1",
        modes={a: "merge", b: "merge"},
        merge_keys={a: "id", b: "id"},
    )
    assert tags(a) == {0: "seed", 1: "seed", 2: "seed",
                       3: "m1", 4: "m1", 5: "m1", 6: "m1"}
    assert tags(b) == {0: "m1", 1: "m1", 2: "seed", 3: "seed", 4: "seed"}

    # crash before publish: provisional merges on BOTH tables, nothing
    # visible on either
    real = multitx._write_atomic

    def dying_publish(spark_, fs, path, payload):
        if "_multitx/" in path:
            raise RuntimeError("simulated crash before coordinator publish")
        return real(spark_, fs, path, payload)

    monkeypatch.setattr(multitx, "_write_atomic", dying_publish)
    with pytest.raises(RuntimeError, match="simulated crash"):
        tx_multi(
            {a: _df(spark, 0, 2, "m2"), b: _df(spark, 3, 5, "m2")},
            coord,
            txn="mm2",
            modes={a: "merge", b: "merge"},
            merge_keys={a: "id", b: "id"},
        )
    monkeypatch.setattr(multitx, "_write_atomic", real)
    assert tags(a)[0] == "seed" and tags(b)[3] == "seed"
    assert len(tx_multi_pending(spark, a)) == 1

    # the pending merge rewrote a's files holding ids 0-1: a
    # single-table merge of the same keys must refuse (either the
    # pending-remove overlap or the pending-add key overlap fires)
    with pytest.raises(RuntimeError, match="pending multi-table|multi"):
        tx_merge(_df(spark, 0, 2, "steal"), a, "id", cdf=False)

    # so must a deletion-vector DELETE or UPDATE of those files: the
    # merge's rewrite would drop the DV's deletes (or keep the old row
    # beside the UPDATE's post-image) the instant it resolves
    def rows(path):
        return sorted(map(tuple, tx_read(spark, path).collect()))

    before = (txlog._replay(spark, a).version, rows(a))
    for dv_mutation in (
        lambda: txlog.tx_delete_where(spark, a, "id = 1"),
        lambda: txlog.tx_update(spark, a, "id = 0", {"tag": "'upd'"}),
    ):
        with pytest.raises(RuntimeError, match="pending multi-table"):
            dv_mutation()
        assert (txlog._replay(spark, a).version, rows(a)) == before

    # same-txn retry resumes the provisional commits and completes
    tx_multi(
        {a: _df(spark, 0, 2, "m2"), b: _df(spark, 3, 5, "m2")},
        coord,
        txn="mm2",
        modes={a: "merge", b: "merge"},
        merge_keys={a: "id", b: "id"},
    )
    assert tags(a)[0] == "m2" and tags(a)[1] == "m2"
    assert tags(b)[3] == "m2" and tags(b)[4] == "m2"
    assert tx_multi_pending(spark, a) == []
    assert rows(a) == [(0, "m2"), (1, "m2"), (2, "seed"), (3, "m1"),
                       (4, "m1"), (5, "m1"), (6, "m1")]
    # resolved: the blocked single-table merge now goes through
    tx_merge(_df(spark, 0, 2, "steal"), a, "id", cdf=False)
    assert tags(a)[0] == "steal"


def test_multi_merge_abort_unblocks_and_feeds_cdf(
    spark, tmp_path, monkeypatch
):
    """Aborting a pending multi merge releases its participants for
    single-table rewrites; and on a cdf.enabled table a RESOLVED multi
    merge delivers its change rows through tx_changes_cdf like any
    single-table merge."""
    from distributed_mapreduce__spark.sources.txlog import (
        tx_changes_cdf,
        tx_merge,
    )

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    coord = str(tmp_path / "catalog")
    tx_write(_df(spark, 0, 5, "seed"), a, stats_cols=["id"])
    tx_write(_df(spark, 0, 5, "seed"), b, stats_cols=["id"])

    real = multitx._write_atomic

    def dying_publish(spark_, fs, path, payload):
        if "_multitx/" in path:
            raise RuntimeError("die")
        return real(spark_, fs, path, payload)

    monkeypatch.setattr(multitx, "_write_atomic", dying_publish)
    with pytest.raises(RuntimeError, match="die"):
        tx_multi(
            {a: _df(spark, 0, 2, "mx"), b: _df(spark, 0, 2, "mx")},
            coord,
            txn="mm3",
            modes={a: "merge", b: "merge"},
            merge_keys={a: "id", b: "id"},
        )
    monkeypatch.setattr(multitx, "_write_atomic", real)
    with pytest.raises(RuntimeError, match="pending multi-table|multi"):
        tx_merge(_df(spark, 0, 2, "solo"), a, "id", cdf=False)
    assert tx_multi_abort(spark, coord, "mm3")
    # aborted: single-table traffic flows again, rows unchanged
    tx_merge(_df(spark, 0, 2, "solo"), a, "id", cdf=False)
    assert {r.id: r.tag for r in tx_read(spark, a).collect()}[0] == "solo"

    # cdf: a resolved multi merge feeds the change feed on each table
    v_before = tx_history(spark, b)[-1]["version"]
    tx_multi(
        {b: _df(spark, 4, 6, "cdc")},
        coord,
        txn="mm4",
        modes={b: "merge"},
        merge_keys={b: "id"},
    )
    kinds = {
        r._change_type
        for v, kind, df in tx_changes_cdf(spark, b, since_version=v_before)
        if kind == "cdf" and df is not None
        for r in df.select("_change_type").distinct().collect()
    }
    assert "update_postimage" in kinds and "insert" in kinds


def test_multi_merge_conditional_clauses(spark, tmp_path, monkeypatch):
    """Round 15 (VERDICT r14 #2): conditional clauses flow through
    multi-table merges — an atomic two-table conditional upsert, with
    the crash matrix (provisional invisibility + same-txn resume)
    holding for the clause-bearing body too."""
    from distributed_mapreduce__spark.sources.txlog import tx_merge

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    coord = str(tmp_path / "catalog")
    tx_write(_df(spark, 0, 6, "seed"), a, stats_cols=["id"])
    tx_write(_df(spark, 0, 6, "seed"), b, stats_cols=["id"])
    txlog.tx_set_properties(spark, a, {"cdf.enabled": False})
    txlog.tx_set_properties(spark, b, {"cdf.enabled": False})

    def tags(path):
        return {r.id: r.tag for r in tx_read(spark, path).collect()}

    clauses_a = {
        "when_matched": [
            {"action": "update", "condition": "s.id % 2 = 0",
             "set": {"tag": "concat('u-', s.tag)"}},
            {"action": "delete", "condition": "t.id = 5"},
        ],
        "when_not_matched": [{"condition": "s.id < 8"}],
    }
    src = _df(spark, 4, 10, "m1")
    tx_multi(
        {a: src, b: _df(spark, 0, 2, "m1")},
        coord, txn="cm1",
        modes={a: "merge", b: "merge"},
        merge_keys={a: "id", b: "id"},
        merge_clauses={a: clauses_a},
    )
    # a: 4 matched+even -> updated; 5 matched+odd -> clause2 delete;
    # 6,7 unmatched source, condition id<8 -> inserted; 8,9 dropped;
    # 0-3 untouched targets survive
    assert tags(a) == {0: "seed", 1: "seed", 2: "seed", 3: "seed",
                       4: "u-m1", 6: "m1", 7: "m1"}
    # b took the unconditional upsert
    assert tags(b) == {0: "m1", 1: "m1", 2: "seed", 3: "seed",
                       4: "seed", 5: "seed"}

    # clause validation refuses before anything stages
    with pytest.raises(ValueError, match="merge_clauses"):
        tx_multi(
            {a: src}, coord, txn="cmv",
            modes={a: "append"}, merge_clauses={a: clauses_a},
        )
    with pytest.raises(ValueError, match="unknown key"):
        tx_multi(
            {a: src}, coord, txn="cmv2",
            modes={a: "merge"}, merge_keys={a: "id"},
            merge_clauses={a: {"when_matched_typo": []}},
        )

    # crash matrix: provisional clause-merges invisible on BOTH
    # tables until the coordinator record lands; same-txn retry
    # resumes and completes
    real = multitx._write_atomic

    def dying_publish(spark_, fs, path, payload):
        if "_multitx/" in path:
            raise RuntimeError("simulated crash before coordinator publish")
        return real(spark_, fs, path, payload)

    pre_a, pre_b = tags(a), tags(b)
    args = dict(
        coord=coord, txn="cm2",
        modes={a: "merge", b: "merge"},
        merge_keys={a: "id", b: "id"},
        merge_clauses={
            a: {"when_matched": [{"action": "update",
                                  "set": {"tag": "'crashed'"}}]},
            b: {"when_matched": [{"action": "delete",
                                  "condition": "t.id = 0"}]},
        },
    )
    monkeypatch.setattr(multitx, "_write_atomic", dying_publish)
    with pytest.raises(RuntimeError, match="simulated crash"):
        tx_multi(
            {a: _df(spark, 0, 2, "x"), b: _df(spark, 0, 2, "x")},
            args["coord"], txn=args["txn"], modes=args["modes"],
            merge_keys=args["merge_keys"],
            merge_clauses=args["merge_clauses"],
        )
    monkeypatch.setattr(multitx, "_write_atomic", real)
    assert tags(a) == pre_a and tags(b) == pre_b
    assert len(tx_multi_pending(spark, a)) == 1
    # while pending, an overlapping single-table rewrite refuses
    with pytest.raises(RuntimeError, match="pending multi-table|multi"):
        tx_merge(_df(spark, 0, 2, "steal"), a, "id", cdf=False)
    tx_multi(
        {a: _df(spark, 0, 2, "x"), b: _df(spark, 0, 2, "x")},
        args["coord"], txn=args["txn"], modes=args["modes"],
        merge_keys=args["merge_keys"],
        merge_clauses=args["merge_clauses"],
    )
    got_a, got_b = tags(a), tags(b)
    assert got_a[0] == "crashed" and got_a[1] == "crashed"
    assert 0 not in got_b and got_b[1] == "m1"
    assert tx_multi_pending(spark, a) == []


def test_participants_get_row_ids_on_tracked_tables(spark, tmp_path):
    """Append and overwrite participants run tx_write's body, so on a
    row-tracked table every row they add gets a distinct, non-NULL
    ``_row_id`` from its commit's id range."""
    from distributed_mapreduce__spark.sources.txlog import (
        tx_enable_row_tracking,
        tx_scan_with_row_ids,
    )

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    coord = str(tmp_path / "catalog")
    for t in (a, b):
        tx_write(_df(spark, 0, 3, "seed"), t)
        tx_enable_row_tracking(spark, t)
    tx_multi(
        {a: _df(spark, 10, 13, "tx"), b: _df(spark, 20, 24, "tx")},
        coord, txn="rt1", modes={b: "overwrite"},
    )
    ids_a = {
        r.id: r._row_id for r in tx_scan_with_row_ids(spark, a).collect()
    }
    ids_b = {
        r.id: r._row_id for r in tx_scan_with_row_ids(spark, b).collect()
    }
    assert sorted(ids_a) == [0, 1, 2, 10, 11, 12]
    assert sorted(ids_b) == [20, 21, 22, 23]
    for got in (ids_a, ids_b):
        assert None not in got.values()
        assert len(set(got.values())) == len(got)


def test_participant_rechecks_constraint_added_while_publishing(
    spark, tmp_path, during_publish
):
    """A CHECK constraint added while a participant is publishing takes
    the participant's version: its retry re-checks the new constraint
    and refuses, so none of its violating rows ever becomes visible."""
    from distributed_mapreduce__spark.sources.txlog import tx_add_constraint

    a = str(tmp_path / "a")
    coord = str(tmp_path / "catalog")
    tx_write(_df(spark, 0, 3, "seed"), a)
    during_publish(lambda: tx_add_constraint(spark, a, "nonneg", "id >= 0"))
    with pytest.raises(ValueError, match="nonneg"):
        tx_multi({a: _df(spark, -3, 0, "neg")}, coord, txn="c1")
    assert _ids(spark, a) == [0, 1, 2]
    assert tx_multi_pending(spark, a) == []
    assert [h["action"] for h in tx_history(spark, a)] == ["append", "meta"]
