"""Merge-on-read equality deletes (sources/txlog.py): KB-sized
tombstone commits instead of file rewrites, reader-side broadcast
anti-joins scoped by per-file add-version, loud refusal of file-set
operations while tombstones are live, and tx_apply_deletes settling
the debt into a bounded copy-on-write rewrite."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from distributed_mapreduce__spark.sources.txlog import (
    _commit_rewrite,
    _replay,
    tx_apply_deletes,
    tx_changes,
    tx_clone,
    tx_compact,
    tx_delete,
    tx_diff,
    tx_history,
    tx_maintain,
    tx_merge,
    tx_optimize_zorder,
    tx_read,
    tx_restore,
    tx_vacuum,
    tx_write,
)


def _df(spark, ids, tag="x"):
    return spark.createDataFrame([(i, tag) for i in ids], "id long, tag string")


def _keys(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "id long")


def _ids(spark, path, version=None):
    return sorted(r.id for r in tx_read(spark, path, version).collect())


def test_mor_delete_hides_rows_and_time_travels(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_write(_df(spark, range(10)), t)
    v = tx_delete(_keys(spark, [2, 5]), t, "id", mode="merge_on_read")
    assert _ids(spark, t) == [0, 1, 3, 4, 6, 7, 8, 9]
    # the delete moved no data: zero files added or removed
    h = tx_history(spark, t)[v]
    assert h["action"] == "delete" and h["n_added"] == 0 and h["n_removed"] == 0
    assert h["mor_col"] == "id"
    # pre-delete snapshot still shows the rows
    assert _ids(spark, t, version=0) == list(range(10))


def test_reinsert_after_delete_survives(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_write(_df(spark, range(5), "old"), t)
    tx_delete(_keys(spark, [3]), t, "id", mode="merge_on_read")
    tx_write(_df(spark, [3], "new"), t)
    rows = {(r.id, r.tag) for r in tx_read(spark, t).collect()}
    assert (3, "new") in rows and (3, "old") not in rows
    assert _ids(spark, t) == [0, 1, 2, 3, 4]


def test_stacked_deletes_scope_by_epoch(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_write(_df(spark, range(6), "v0"), t)          # v0: 0..5
    tx_delete(_keys(spark, [1]), t, "id", mode="merge_on_read")  # v1
    tx_write(_df(spark, [1, 2], "v2"), t)            # v2: re-adds 1, dupes 2
    tx_delete(_keys(spark, [2]), t, "id", mode="merge_on_read")  # v3: kills BOTH 2s
    assert _ids(spark, t) == [0, 1, 3, 4, 5]
    # time travel to v2: first delete applied, second not yet
    assert _ids(spark, t, version=2) == [0, 1, 2, 2, 3, 4, 5]


def test_file_set_ops_refuse_then_apply_unblocks(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_write(_df(spark, range(8)), t)
    tx_write(_df(spark, range(8, 12)), t)
    tx_delete(_keys(spark, [4, 9]), t, "id", mode="merge_on_read")
    expected = [i for i in range(12) if i not in (4, 9)]
    assert _ids(spark, t) == expected

    for op in (
        lambda: tx_compact(spark, t),
        lambda: tx_optimize_zorder(spark, t, ["id"], n_files=2),
        lambda: tx_merge(_df(spark, [0], "m"), t, "id"),
        lambda: tx_diff(spark, t, 0),
        lambda: tx_restore(spark, t, 2),
        lambda: tx_clone(spark, t, str(tmp_path / "c")),
    ):
        with pytest.raises(ValueError, match="tx_apply_deletes"):
            op()

    v = tx_apply_deletes(spark, t)
    assert v is not None
    assert _ids(spark, t) == expected  # logical contents unchanged
    assert tx_history(spark, t)[v]["action"] == "apply_deletes"
    assert tx_apply_deletes(spark, t) is None  # nothing left to settle
    assert tx_compact(spark, t) is not None  # unblocked
    assert _ids(spark, t) == expected


def test_maintain_settles_tombstones(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_write(_df(spark, range(6)), t)
    tx_delete(_keys(spark, [0]), t, "id", mode="merge_on_read")
    rep = tx_maintain(spark, t, max_live_files=1)
    assert rep["deletes_applied"] is True
    assert _ids(spark, t) == [1, 2, 3, 4, 5]
    # the dead tombstone key file was vacuumed with the dead data
    assert not list((tmp_path / "t" / "_deletes").glob("*.parquet"))


def test_vacuum_preserves_live_tombstone_and_checkpoint_replays(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_write(_df(spark, range(6), "a"), t)
    tx_write(_df(spark, range(6, 9), "b"), t)
    tx_delete(_keys(spark, [1, 7]), t, "id", mode="merge_on_read")
    tx_vacuum(spark, t)  # folds eps+mor into the checkpoint, truncates
    # tombstone key file must survive: the delete is still logical-only
    assert list((tmp_path / "t" / "_deletes").glob("*.parquet"))
    assert _ids(spark, t) == [0, 2, 3, 4, 5, 6, 8]
    # post-vacuum append: replay now starts FROM the checkpoint, and
    # the new file's eps must still dodge the folded tombstone
    tx_write(_df(spark, [1], "back"), t)
    assert _ids(spark, t) == [0, 1, 2, 3, 4, 5, 6, 8]
    tx_apply_deletes(spark, t)
    tx_vacuum(spark, t)
    assert not list((tmp_path / "t" / "_deletes").glob("*.parquet"))
    assert _ids(spark, t) == [0, 1, 2, 3, 4, 5, 6, 8]


def test_change_feed_refuses_mor_delete(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_write(_df(spark, range(3)), t)
    tx_delete(_keys(spark, [0]), t, "id", mode="merge_on_read")
    with pytest.raises(ValueError, match="rewrites history"):
        tx_changes(spark, t, None)


def test_mor_delete_txn_idempotent(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_write(_df(spark, range(4)), t)
    v1 = tx_delete(_keys(spark, [1]), t, "id", mode="merge_on_read", txn="d1")
    v2 = tx_delete(_keys(spark, [1]), t, "id", mode="merge_on_read", txn="d1")
    assert v1 == v2
    assert len(tx_history(spark, t)) == 2  # append + one delete


def test_copy_on_write_default_unchanged(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_write(_df(spark, range(4)), t)
    v = tx_delete(_keys(spark, [1]), t, "id")
    h = tx_history(spark, t)[v]
    assert h["n_removed"] > 0  # physical rewrite happened
    assert _ids(spark, t) == [0, 2, 3]


def test_overwrite_obsoletes_tombstones(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_write(_df(spark, range(4)), t)
    tx_delete(_keys(spark, [1]), t, "id", mode="merge_on_read")
    tx_write(_df(spark, [1, 2]), t, mode="overwrite")
    assert _ids(spark, t) == [1, 2]  # the old tombstone does not leak
    assert tx_apply_deletes(spark, t) is None


def test_rewrite_commit_aborts_when_tombstone_races_in(spark, tmp_path):
    """The commit-time guard: a rewrite planned under 'no tombstones'
    must abort if a merge-on-read delete landed since its snapshot —
    its outputs would otherwise dodge the new tombstone."""
    t = str(tmp_path / "t")
    tx_write(_df(spark, range(4)), t)
    snap = _replay(spark, t)
    tx_delete(_keys(spark, [0]), t, "id", mode="merge_on_read")
    with pytest.raises(RuntimeError, match="tombstones changed"):
        _commit_rewrite(spark, t, [], [], snap, None, "compact")


def test_reader_version_guard(spark, tmp_path):
    """Tombstone commits are stamped with the table-format feature
    level; a reader that doesn't understand a stamped level must
    refuse rather than silently resurrect logically-deleted rows."""
    import json

    t = str(tmp_path / "t")
    tx_write(_df(spark, range(3)), t)
    v = tx_delete(_keys(spark, [1]), t, "id", mode="merge_on_read")
    log = tmp_path / "t" / "_txlog"
    commit = json.loads((log / f"{v:020d}.json").read_text())
    assert commit["reader"] == 2

    # a commit stamped with a FUTURE feature level blocks replay...
    (log / f"{v + 1:020d}.json").write_text(
        json.dumps(
            {"version": v + 1, "action": "append", "add": [],
             "remove": [], "txn": None, "reader": 99}
        )
    )
    with pytest.raises(RuntimeError, match="reader version 99"):
        tx_read(spark, t)
    with pytest.raises(RuntimeError, match="reader version 99"):
        tx_changes(spark, t, None)
    # ...but time travel below it keeps working
    assert _ids(spark, t, version=v) == [0, 2]


def test_where_skipping_composes_with_tombstones(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_write(_df(spark, range(10)), t, stats_cols=["id"])
    tx_delete(_keys(spark, [3, 8]), t, "id", mode="merge_on_read")
    got = sorted(
        r.id for r in tx_read(spark, t, where=("id", 2, 6)).collect()
    )
    assert got == [2, 4, 5, 6]
