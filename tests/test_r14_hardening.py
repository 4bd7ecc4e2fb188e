"""Round-14 hardening pins (ADVICE r13 + VERDICT r13 defect 3):

- tx_clone's seed commit stamps the reader level its imported state
  needs (materialized _row_id -> 5, column mapping -> 3) — the seed
  IS the clone's whole log, so nothing earlier can carry the stamp;
- tx_restore re-records a checkpoint-truncated materialized marker
  (base -1 + reader 5) instead of minting a dead fresh base;
- _commit_rewrite raises a conflict when row tracking is toggled
  between the planning snapshot and commit time (instead of silently
  re-identifying rows the enable commit just backfilled), for
  rewrites and deletion-vector UPDATEs alike; tx_restore instead
  decides its row-id bases on the commit-time snapshot;
- the txtable BATCH read honors option("withRowIds") — the schema it
  declares is the schema its arrow batches produce, DV drops applied
  after id assignment — and refuses on untracked tables;
- the txtable stream reader seeds its planning cursor from restored
  offsets (commit()/partitions()), so the first latestOffset after a
  restart plans only NEW commits.
"""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from distributed_mapreduce__spark.sources import txlog
from distributed_mapreduce__spark.sources.txlog import (
    _write_checkpoint,
    tx_clone,
    tx_compact,
    tx_delete_where,
    tx_enable_row_tracking,
    tx_merge,
    tx_read,
    tx_rename_column,
    tx_restore,
    tx_scan_with_row_ids,
    tx_write,
)


def _df(spark, lo=0, hi=100, tag="x"):
    return spark.range(lo, hi).select("id", F.lit(tag).alias("tag"))


def _id_map(spark, path, version=None):
    return {
        r._row_id: (r.id, r.tag)
        for r in tx_scan_with_row_ids(spark, path, version=version).collect()
    }


def _seed_commit(dst: str) -> dict:
    names = sorted(glob.glob(os.path.join(dst, "_txlog", "*.json")))
    assert len(names) == 1
    with open(names[0]) as fh:
        return json.load(fh)


def test_clone_seed_stamps_reader_5_for_materialized_ids(spark, tmp_path):
    t, d = str(tmp_path / "t"), str(tmp_path / "d")
    tx_write(_df(spark).repartition(4), t, stats_cols=["id"])
    tx_enable_row_tracking(spark, t)
    tx_compact(spark, t)  # outputs materialize _row_id (base -1)
    before = _id_map(spark, t)
    tx_clone(spark, t, d)
    seed = _seed_commit(d)
    assert any(b == -1 for b in seed["row_bases"].values())
    assert seed.get("reader", 1) >= 5
    assert _id_map(spark, d) == before


def test_clone_seed_stamps_reader_3_for_column_mapping(spark, tmp_path):
    t, d = str(tmp_path / "t"), str(tmp_path / "d")
    tx_write(_df(spark, 0, 10), t)
    tx_rename_column(spark, t, "tag", "label")
    tx_clone(spark, t, d)
    seed = _seed_commit(d)
    assert seed.get("reader", 1) >= 3
    assert sorted(tx_read(spark, d).columns) == ["id", "label"]


def test_restore_rerecords_truncated_materialized_marker(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_write(_df(spark).repartition(4), t, stats_cols=["id"])  # v0
    tx_enable_row_tracking(spark, t)                           # v1
    tx_compact(spark, t)                                       # v2: -1
    want = _id_map(spark, t, version=2)
    tx_write(_df(spark, 500, 510, "z"), t, mode="overwrite")   # v3
    # checkpoint at v3: dead files' bases (incl. the -1 markers of
    # v2's outputs) are truncated out of the folded record
    assert _write_checkpoint(spark, t, 3)
    now = txlog._replay(spark, t)
    mat_gone = [
        f for f, b in txlog._replay(spark, t, 2).row_bases.items()
        if b == -1 and f not in now.row_bases
    ]
    assert mat_gone, "fixture must exercise a truncated -1 marker"
    v = tx_restore(spark, t, 2)
    c = json.load(open(os.path.join(t, "_txlog", f"{v:020d}.json")))
    # the marker is re-recorded as -1 (never a fresh base) + reader 5
    assert all(c["row_bases"][f] == -1 for f in mat_gone)
    assert c.get("reader", 1) >= 5
    # and row identity survives the round trip
    assert _id_map(spark, t) == want


def test_rewrite_conflicts_when_tracking_flips_mid_flight(
    spark, tmp_path, during_publish
):
    t = str(tmp_path / "t")
    tx_write(_df(spark, 0, 50).repartition(2), t, stats_cols=["id"])
    updates = spark.range(10, 15).select(
        "id", F.lit("new").alias("tag")
    )
    # tracking lands between planning and commit: the merge planned
    # id-less outputs — committing would mint nothing (or fresh ids on
    # a retry) for rows the enable just backfilled
    during_publish(lambda: tx_enable_row_tracking(spark, t))
    with pytest.raises(RuntimeError, match="row tracking.*toggled"):
        tx_merge(updates, t, "id")

    # a deletion-vector UPDATE planned id-less post-images the same way
    u = str(tmp_path / "u")
    tx_write(_df(spark, 0, 50).repartition(2), u, stats_cols=["id"])
    during_publish(lambda: tx_enable_row_tracking(spark, u))
    with pytest.raises(RuntimeError, match="row tracking.*toggled"):
        txlog.tx_update(spark, u, "id = 4", {"tag": "'upd'"})
    # refused: the enable is the only commit since, every row has an id
    assert txlog._replay(spark, u).version == 1
    ids = _id_map(spark, u)
    assert sorted(ids.values()) == [(i, "x") for i in range(50)]
    assert None not in ids


def test_restore_gives_ids_when_tracking_turns_on_mid_flight(
    spark, tmp_path, during_publish
):
    t = str(tmp_path / "t")
    tx_write(_df(spark, 0, 3), t)
    tx_write(_df(spark, 10, 12, "y"), t, mode="overwrite")
    # the enable backfills the overwrite's files; the restore, planned
    # on an untracked table, brings back version 0's files, which
    # the backfill never saw — they need bases in the restore commit
    during_publish(lambda: tx_enable_row_tracking(spark, t))
    assert tx_restore(spark, t, 0) == 3
    ids = _id_map(spark, t)
    assert sorted(ids.values()) == [(0, "x"), (1, "x"), (2, "x")]
    assert None not in ids


def test_batch_read_with_row_ids_matches_scan(spark, tmp_path):
    from distributed_mapreduce__spark.streaming.tx_source import (
        register_tx_source,
    )

    register_tx_source(spark)
    t = str(tmp_path / "t")
    tx_write(_df(spark, 0, 40).repartition(2), t, stats_cols=["id"])
    tx_enable_row_tracking(spark, t)
    tx_write(_df(spark, 40, 60, "y"), t)       # fresh bases
    tx_compact(spark, t)                       # materialized (-1) file
    tx_delete_where(spark, t, "id >= 55")      # DV on the outputs
    want = {
        (r._row_id, r.id, r.tag)
        for r in tx_scan_with_row_ids(spark, t).collect()
    }
    got_df = (
        spark.read.format("txtable")
        .option("path", t)
        .option("withRowIds", "true")
        .load()
    )
    assert got_df.columns[0] == "_row_id"
    got = {(r._row_id, r.id, r.tag) for r in got_df.collect()}
    assert got == want and len(got) == 55


def test_batch_read_with_row_ids_refuses_untracked(spark, tmp_path):
    from distributed_mapreduce__spark.streaming.tx_source import (
        register_tx_source,
    )

    register_tx_source(spark)
    t = str(tmp_path / "t")
    tx_write(_df(spark, 0, 10), t)
    with pytest.raises(Exception, match="row-id base"):
        (
            spark.read.format("txtable")
            .option("path", t)
            .option("withRowIds", "true")
            .load()
            .collect()
        )


def test_stream_cursor_seeds_from_restored_offsets(spark, tmp_path, monkeypatch):
    import distributed_mapreduce__spark.streaming.tx_source as txs

    t = str(tmp_path / "t")
    for i in range(5):
        tx_write(_df(spark, i * 10, i * 10 + 10), t)
    view = txs._LogView(t)
    schema = view.schema_json()

    # simulate a restart: fresh reader, Spark re-commits the last
    # completed offset before asking for a new one
    r = txs.TxTableStreamReader({"path": t}, schema)
    assert r._cursor == -1
    r.commit({"version": 2})
    assert r._cursor == 2

    from distributed_mapreduce__spark.sources import txlog_core

    loaded: "list[int]" = []
    orig = txlog_core._load

    def counting(spark_, path, name):
        loaded.append(int(name.split(".")[0]))
        return orig(spark_, path, name)

    monkeypatch.setattr(txlog_core, "_load", counting)
    off = r.latestOffset()
    assert off == {"version": 4}
    # planning after the seeded cursor touches only NEW commits —
    # never the consumed history below the restored offset
    assert loaded and min(loaded) >= 3

    # the incomplete-batch path seeds through partitions(start, end)
    r2 = txs.TxTableStreamReader({"path": t}, schema)
    r2.partitions({"version": 3}, {"version": 4})
    assert r2._cursor >= 3
