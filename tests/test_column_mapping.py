"""Column mapping (sources/txlog.py, round 12): RENAME / DROP COLUMN
as metadata commits — Delta's columnMapping model. Every field can
carry a stable PHYSICAL name in its StructField metadata; data files,
log stats, and CDF sidecars are written under physical names and every
read maps back to the current logical names, so a rename is one commit
on a 100 TB table, old files read bit-exactly, dropped columns never
resurrect, and both protocol guards hold (reader level 3 +
``column-mapping`` writer feature)."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from distributed_mapreduce__spark.sources import txlog, txlog_core
from distributed_mapreduce__spark.sources.multitx import tx_multi
from distributed_mapreduce__spark.sources.txlog import (
    _replay,
    tx_add_constraint,
    tx_changes_cdf,
    tx_compact,
    tx_delete,
    tx_drop_column,
    tx_merge,
    tx_properties,
    tx_read,
    tx_rename_column,
    tx_set_partitioning,
    tx_write,
)


def _df(spark, lo, hi, tag="a"):
    return spark.range(lo, hi).select(
        "id", (F.col("id") * 2).alias("val"), F.lit(tag).alias("tag")
    )


@pytest.fixture()
def table(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_write(_df(spark, 0, 20), t, stats_cols=["id"])
    return t


def test_rename_is_metadata_only_and_time_travels(spark, table):
    files_before = set(_replay(spark, table).eps)
    v = tx_rename_column(spark, table, "val", "amount")
    assert set(_replay(spark, table).eps) == files_before  # zero rewrite
    got = tx_read(spark, table)
    assert got.columns == ["id", "amount", "tag"]
    assert got.filter("id = 3").collect()[0].amount == 6
    # old snapshots keep their own schema
    assert tx_read(spark, table, version=v - 1).columns == [
        "id", "val", "tag",
    ]
    feats = tx_properties(spark, table)["writer.features"]
    assert "column-mapping" in feats


def test_writes_after_rename_land_under_stable_physical_names(
    spark, table
):
    """Appends/merges/deletes/compactions on a renamed table stage
    under the FROZEN physical name, so the whole file set stays
    consistent — pinned by reading a post-rename file raw."""
    tx_rename_column(spark, table, "val", "amount")
    tx_write(
        spark.createDataFrame([(100, 5, "n")], "id long, amount long, tag string"),
        table,
    )
    tx_merge(
        spark.createDataFrame([(2, 77, "u")], "id long, amount long, tag string"),
        table, "id",
    )
    tx_delete(spark.createDataFrame([(3,)], "id long"), table, "id")
    tx_compact(spark, table, target_files=1)
    got = tx_read(spark, table)
    assert got.columns == ["id", "amount", "tag"]
    assert got.count() == 20  # 20 - 1 deleted + 1 appended
    rows = {r.id: r.amount for r in got.collect()}
    assert rows[2] == 77 and rows[100] == 5 and 3 not in rows
    # the physical bytes use the frozen name, not the logical one
    raw_cols = set()
    for f in glob.glob(f"{table}/data/*.parquet"):
        raw_cols |= set(spark.read.parquet(f).columns)
    assert "val" in raw_cols and "amount" not in raw_cols


def test_drop_column_and_fresh_readd_never_resurrects(spark, table):
    v = tx_drop_column(spark, table, "tag")
    assert tx_read(spark, table).columns == ["id", "val"]
    # time travel still shows it
    assert tx_read(spark, table, version=v - 1).columns == [
        "id", "val", "tag",
    ]
    # re-adding the same logical name gets a FRESH physical identity:
    # the dropped bytes stay invisible
    tx_write(
        spark.createDataFrame(
            [(200, 1, "fresh")], "id long, val long, tag string"
        ),
        table,
        schema_mode="merge",
    )
    got = tx_read(spark, table)
    assert got.columns == ["id", "val", "tag"]
    assert got.filter("id = 0").collect()[0].tag is None
    assert got.filter("id = 200").collect()[0].tag == "fresh"


def test_feed_reconstructs_renamed_columns(spark, table):
    """VERDICT r11 #3's 'feeds reconstruct renamed columns': sidecars
    written BEFORE the rename (under the then-logical == physical
    name) and after it both read back under the CURRENT logical
    names."""
    tx_merge(
        spark.createDataFrame([(1, 99, "m")], "id long, val long, tag string"),
        table, "id", cdf=True,
    )
    tx_rename_column(spark, table, "val", "amount")
    tx_merge(
        spark.createDataFrame([(2, 77, "u")], "id long, amount long, tag string"),
        table, "id", cdf=True,
    )
    kinds = []
    for v, kind, frame in tx_changes_cdf(spark, table, since_version=0):
        if frame is not None:
            assert "val" not in frame.columns, (v, kind)
            assert "amount" in frame.columns, (v, kind)
            kinds.append(kind)
    assert kinds.count("cdf") == 2


def test_stats_prune_on_renamed_column(spark, tmp_path):
    """Stats key on the stable physical name, so log-only pruning
    keeps working across renames — the predicate column translates."""
    t = str(tmp_path / "p")
    df = spark.range(0, 100).select(
        "id", F.col("id").alias("v")
    ).repartitionByRange(4, "v")
    tx_write(df, t, stats_cols=["v"])
    tx_rename_column(spark, t, "v", "value")
    pruned = tx_read(spark, t, where=("value", 5, 5))
    assert len(pruned.inputFiles()) == 1
    assert {r.value for r in pruned.collect()} == {5}
    # and a post-rename append records stats under the same key
    tx_write(
        spark.createDataFrame([(500, 500)], "id long, value long").coalesce(1),
        t, stats_cols=["value"],
    )
    pruned2 = tx_read(spark, t, where=("value", 500, 500))
    assert len(pruned2.inputFiles()) == 1
    assert pruned2.count() == 1


def test_refusals(spark, table, tmp_path):
    # unknown / duplicate / invalid names
    with pytest.raises(KeyError, match="no column"):
        tx_rename_column(spark, table, "nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        tx_rename_column(spark, table, "val", "tag")
    with pytest.raises(ValueError, match="invalid column name"):
        tx_rename_column(spark, table, "val", "bad name!")
    # constraint-referenced column
    tx_add_constraint(spark, table, "val_nonneg", "val >= 0")
    with pytest.raises(ValueError, match="val_nonneg"):
        tx_rename_column(spark, table, "val", "amount")
    with pytest.raises(ValueError, match="val_nonneg"):
        tx_drop_column(spark, table, "val")
    # merge-on-read tombstones live
    t2 = str(tmp_path / "mor")
    tx_write(_df(spark, 0, 5), t2)
    tx_delete(
        spark.createDataFrame([(1,)], "id long"), t2, "id",
        mode="merge_on_read",
    )
    with pytest.raises(ValueError, match="merge-on-read"):
        tx_rename_column(spark, t2, "val", "amount")
    # a partition SOURCE column cannot be dropped (the spec derives
    # placement from it) — but renaming it is fine (round 13: specs
    # record physical names, so mapping and partitioning combine)
    t3 = str(tmp_path / "part")
    tx_write(_df(spark, 0, 10), t3, partition_by=["tag"])
    tx_rename_column(spark, t3, "tag", "label")
    with pytest.raises(ValueError, match="partition spec"):
        tx_drop_column(spark, t3, "label")
    # dropping the only column
    t4 = str(tmp_path / "one")
    tx_write(spark.range(3).select("id"), t4)
    with pytest.raises(ValueError, match="only column"):
        tx_drop_column(spark, t4, "id")


def test_old_build_guards(spark, table, monkeypatch):
    tx_rename_column(spark, table, "val", "amount")
    assert tx_read(spark, table).count() == 20
    # writer half: a build without the feature refuses to write
    monkeypatch.setattr(
        txlog,
        "WRITER_FEATURES",
        frozenset(txlog.WRITER_FEATURES - {"column-mapping"}),
    )
    with pytest.raises(RuntimeError, match="column-mapping"):
        tx_write(_df(spark, 0, 1), table)
    monkeypatch.undo()
    # reader half: a level-2 build refuses to read (it would surface
    # physical names), but pre-mapping time travel works
    monkeypatch.setattr(txlog_core, "READER_VERSION", 2)
    with pytest.raises(RuntimeError, match="reader version 3"):
        tx_read(spark, table)
    assert tx_read(spark, table, version=0).count() == 20


def test_multitx_append_on_mapped_table(spark, table, tmp_path):
    tx_rename_column(spark, table, "val", "amount")
    other = str(tmp_path / "other")
    d = str(tmp_path / "coord")
    tx_multi(
        {
            table: spark.createDataFrame(
                [(300, 9, "mt")], "id long, amount long, tag string"
            ),
            other: spark.range(3).select("id"),
        },
        coordinator=d,
        txn="mx1",
    )
    got = tx_read(spark, table)
    assert got.columns == ["id", "amount", "tag"]
    assert got.filter("id = 300").collect()[0].amount == 9
    assert tx_read(spark, other).count() == 3


def test_rename_then_constraint_on_new_name(spark, table):
    tx_rename_column(spark, table, "val", "amount")
    tx_add_constraint(spark, table, "amt_nonneg", "amount >= 0")
    bad = spark.createDataFrame(
        [(999, -1, "x")], "id long, amount long, tag string"
    )
    with pytest.raises(ValueError, match="amt_nonneg"):
        tx_write(bad, table)
    tx_write(
        spark.createDataFrame(
            [(999, 1, "x")], "id long, amount long, tag string"
        ),
        table,
    )
    assert tx_read(spark, table).filter("id = 999").count() == 1


def test_clone_and_restore_on_mapped_tables(spark, table, tmp_path):
    """Shallow clone of a mapped table reads under the clone's own
    replay (schema + mapping travel with the seed commit); RESTORE to
    a pre-mapping version brings the old logical schema back (the
    overwrite fold replaces the schema) and the table keeps working."""
    from distributed_mapreduce__spark.sources.txlog import (
        tx_clone,
        tx_restore,
    )

    v_pre = 0
    tx_rename_column(spark, table, "val", "amount")
    c = str(tmp_path / "clone")
    tx_clone(spark, table, c)
    got = tx_read(spark, c)
    assert got.columns == ["id", "amount", "tag"]
    assert got.count() == 20
    tx_restore(spark, table, version=v_pre)
    assert tx_read(spark, table).columns == ["id", "val", "tag"]
    assert tx_read(spark, table).count() == 20


def test_append_racing_concurrent_rename_refuses(spark, tmp_path, monkeypatch):
    """The commit-retry mapping-drift guard: a merge-mode append whose
    files were staged under the pre-rename physical plan must refuse
    at commit time when a concurrent RENAME (or drop) of one of its
    columns lands in the race window — committing would bind the
    staged bytes to a stale field identity."""
    t = str(tmp_path / "t")
    tx_write(_df(spark, 0, 10), t)
    tx_rename_column(spark, t, "tag", "label")  # mapping enabled

    real_stage = txlog._stage_and_place
    fired = {}

    def stage_with_rename(df, path, partition_by=None):
        out = real_stage(df, path, partition_by)
        if "done" not in fired:
            fired["done"] = True
            # a concurrent writer renames `val` AFTER our plan froze
            tx_rename_column(spark, path, "val", "amount")
        return out

    monkeypatch.setattr(txlog, "_stage_and_place", stage_with_rename)
    with pytest.raises((RuntimeError, ValueError), match="renamed|dropped|schema"):
        tx_write(
            spark.createDataFrame(
                [(99, 1, "x")], "id long, val long, label string"
            ),
            t,
            schema_mode="merge",
        )
    monkeypatch.undo()
    # nothing landed; the table still reads consistently post-rename
    got = tx_read(spark, t)
    assert got.columns == ["id", "amount", "label"]
    assert got.count() == 10
