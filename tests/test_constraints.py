"""CHECK constraints on transactional tables (round 11 late): Delta's
ALTER TABLE ADD CONSTRAINT model — recorded as ``constraint.<name>``
properties, validated against existing rows before stamping, enforced
row-wise (SQL semantics: only FALSE violates, NULL passes) on every
write path — append, overwrite, merge updates, multi-table
participants — and protected from non-enforcing builds by the
``constraints`` writer feature."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from distributed_mapreduce__spark.sources.multitx import tx_multi
from distributed_mapreduce__spark.sources.txlog import (
    tx_add_constraint,
    tx_constraints,
    tx_drop_constraint,
    tx_merge,
    tx_properties,
    tx_read,
    tx_write,
)


def _df(spark, lo, hi, tag="a"):
    return spark.range(lo, hi).select(F.col("id"), F.lit(tag).alias("tag"))


@pytest.fixture()
def table(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_write(_df(spark, 0, 10), t)
    return t


def test_add_list_drop_and_validation(spark, table):
    tx_add_constraint(spark, table, "id_nonneg", "id >= 0")
    assert tx_constraints(spark, table) == {"id_nonneg": "id >= 0"}
    # stamped the writer feature so old builds refuse to write
    assert "constraints" in tx_properties(spark, table)["writer.features"]
    # idempotent re-add of the same expression; different expr refused
    tx_add_constraint(spark, table, "id_nonneg", "id >= 0")
    with pytest.raises(ValueError, match="different expression"):
        tx_add_constraint(spark, table, "id_nonneg", "id > 0")
    with pytest.raises(ValueError, match="name"):
        tx_add_constraint(spark, table, "bad name!", "id >= 0")
    tx_drop_constraint(spark, table, "id_nonneg")
    assert tx_constraints(spark, table) == {}
    with pytest.raises(KeyError, match="no constraint"):
        tx_drop_constraint(spark, table, "id_nonneg")


def test_add_refuses_on_violating_existing_rows(spark, table):
    with pytest.raises(ValueError, match="existing rows"):
        tx_add_constraint(spark, table, "big", "id >= 5")
    assert tx_constraints(spark, table) == {}


def test_append_and_overwrite_enforced(spark, table):
    tx_add_constraint(spark, table, "id_small", "id < 100")
    tx_write(_df(spark, 10, 20), table)  # conforming append
    with pytest.raises(ValueError, match="id_small"):
        tx_write(_df(spark, 95, 105), table)
    # overwrite must satisfy too (constraints survive overwrites —
    # properties are snapshot-independent metadata)
    with pytest.raises(ValueError, match="id_small"):
        tx_write(_df(spark, 200, 201), table, mode="overwrite")
    assert tx_read(spark, table).count() == 20  # nothing slipped in
    # dropping releases the gate
    tx_drop_constraint(spark, table, "id_small")
    tx_write(_df(spark, 95, 105), table)
    assert tx_read(spark, table).count() == 30


def test_null_passes_sql_semantics(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_write(
        _df(spark, 0, 5).withColumn("v", F.lit(1).cast("long")), t
    )
    tx_add_constraint(spark, t, "v_pos", "v > 0")
    # NULL v evaluates the CHECK to NULL → passes (SQL standard);
    # demand non-null explicitly when you mean it
    nulls = _df(spark, 5, 8).withColumn(
        "v", F.lit(None).cast("long")
    )
    tx_write(nulls, t)
    tx_add_constraint(spark, t, "tag_nn", "tag IS NOT NULL")
    with pytest.raises(ValueError, match="v_pos"):
        tx_write(
            _df(spark, 8, 9).withColumn("v", F.lit(-1).cast("long")), t
        )


def test_merge_updates_enforced(spark, table):
    tx_add_constraint(spark, table, "tagged", "tag != 'evil'")
    tx_merge(_df(spark, 3, 6, "fine"), table, "id", cdf=False)
    with pytest.raises(ValueError, match="tagged"):
        tx_merge(_df(spark, 3, 6, "evil"), table, "id", cdf=False)
    tags = {r.id: r.tag for r in tx_read(spark, table).collect()}
    assert tags[3] == "fine" and tags[0] == "a"


def test_multi_table_participants_enforced(spark, tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    coord = str(tmp_path / "catalog")
    tx_write(_df(spark, 0, 5), a)
    tx_write(_df(spark, 0, 5), b)
    tx_add_constraint(spark, b, "id_cap", "id < 50")
    # participant B's violation fails the transaction before ANY
    # provisional commit on B; nothing becomes visible anywhere
    with pytest.raises(ValueError, match="id_cap"):
        tx_multi(
            {a: _df(spark, 10, 12), b: _df(spark, 60, 62)},
            coord,
            txn="c1",
        )
    assert tx_read(spark, b).count() == 5
    # merge participants validate inside the merge prepare
    with pytest.raises(ValueError, match="id_cap"):
        tx_multi(
            {b: _df(spark, 60, 62)},
            coord,
            txn="c2",
            modes={b: "merge"},
            merge_keys={b: "id"},
        )
    assert tx_read(spark, b).count() == 5


def test_old_build_refuses_constrained_table(spark, table, monkeypatch):
    """A build without the ``constraints`` writer feature must refuse
    to write (it would not enforce the CHECK) — reads stay open."""
    from distributed_mapreduce__spark.sources import txlog

    tx_add_constraint(spark, table, "id_nonneg", "id >= 0")
    monkeypatch.setattr(
        txlog, "WRITER_FEATURES", txlog.WRITER_FEATURES - {"constraints"}
    )
    with pytest.raises(RuntimeError, match="constraints"):
        tx_write(_df(spark, 10, 12), table)
    assert tx_read(spark, table).count() == 10  # reads unaffected


def test_constraint_added_during_merge_enforced_at_commit(
    spark, table, during_publish
):
    """ADVICE r11 (low): a constraint added WHILE a merge is in flight
    must be enforced on that merge's updates at commit time — the
    add-time validation only saw the pre-merge table, so without the
    _commit_rewrite revalidate hook the violating updates would land
    after the constraint committed."""
    updates = spark.createDataFrame([(3, "z"), (11, "z")], "id long, tag string")
    # existing rows are all tag='a', so the ADD validates cleanly —
    # but the in-flight merge's updates carry tag='z'
    during_publish(
        lambda: tx_add_constraint(spark, table, "tag_a", "tag = 'a'")
    )
    with pytest.raises(ValueError, match="tag_a"):
        tx_merge(updates, table, "id", cdf=False)
    # nothing landed: the table is unchanged and still all-'a'
    got = tx_read(spark, table)
    assert got.count() == 10
    assert got.filter("tag <> 'a'").count() == 0


def test_merge_revalidate_sees_staged_rows_not_replan(
    spark, table, tmp_path, during_publish
):
    """Round 15 review: the commit-time revalidate hook must validate
    the rows that were STAGED (the merge's one-pass checkpointed
    source), not re-execute the caller's source plan — a source reading
    state that changed mid-flight (or a nondeterministic plan) would
    otherwise be validated against rows that differ from what landed."""
    p = str(tmp_path / "src_data")
    spark.createDataFrame(
        [(3, "a")], "id long, tag string"
    ).write.parquet(p)
    updates = spark.read.parquet(p)

    def mid_flight():
        # the source's backing data changes mid-flight to a VIOLATING row
        spark.createDataFrame(
            [(3, "z")], "id long, tag string"
        ).write.mode("overwrite").parquet(p)
        tx_add_constraint(spark, table, "tag_a2", "tag = 'a'")

    during_publish(mid_flight)
    # the STAGED rows are all 'a' — the commit must succeed (the old
    # closure over the raw plan re-read the parquet and refused)
    tx_merge(updates, table, "id", cdf=False)
    got = tx_read(spark, table)
    assert got.count() == 10
    assert got.filter("tag <> 'a'").count() == 0
