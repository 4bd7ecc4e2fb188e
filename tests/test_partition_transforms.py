"""Hidden partitioning (sources/txlog.py, round 12): Iceberg-style
partition TRANSFORMS — ``days/months/years/hours(col)``,
``bucket(n, col)``, ``truncate(n, col)`` — recorded in the spec,
derived placement values living ONLY in directory names (never the
schema, the data bytes, or the change feed), source-column predicates
pruned through the transform's monotonicity, rewrites preserving the
layout, evolution between specs as metadata, and both protocol guards
(reader level 3, ``partition-transforms`` writer feature).
Reference for semantics: the Iceberg table spec's "Partition
Transforms" section (public)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from distributed_mapreduce__spark.sources import txlog, txlog_core
from distributed_mapreduce__spark.sources.txlog import (
    _bucket_of,
    _parse_partition_spec,
    _prunable,
    _replay,
    tx_changes_cdf,
    tx_compact,
    tx_merge,
    tx_read,
    tx_set_partitioning,
    tx_properties,
    tx_write,
)


def _tdf(spark, n=40):
    """n rows over 5 days x up to 6 hours, ids 0..n-1."""
    return spark.createDataFrame(
        [
            (i, dt.datetime(2024, 3, 1 + i % 5, 10 + i % 6), f"d{i}")
            for i in range(n)
        ],
        "id long, ts timestamp, body string",
    )


@pytest.fixture()
def days_table(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_write(_tdf(spark), t, partition_by=["days(ts)"], stats_cols=["id"])
    return t


def test_spec_parse_canonicalizes_and_refuses_unknown():
    fields = _parse_partition_spec(
        ["days(ts)", "bucket( 16 , k )", "truncate(4, name)", "plain"]
    )
    assert [pf.spec for pf in fields] == [
        "days(ts)", "bucket(16,k)", "truncate(4,name)", "plain",
    ]
    assert [pf.name for pf in fields] == [
        "_p_days_ts", "_p_bucket_16_k", "_p_truncate_4_name", "plain",
    ]
    with pytest.raises(ValueError, match="unknown partition transform"):
        _parse_partition_spec(["md5(ts)"])
    with pytest.raises(ValueError, match="positive"):
        _parse_partition_spec(["bucket(0, k)"])


def test_hidden_column_never_surfaces(spark, days_table):
    """The derived placement column is metadata: absent from reads,
    merge survivors, compaction outputs, and the change feed."""
    assert tx_read(spark, days_table).columns == ["id", "ts", "body"]
    upd = _tdf(spark).limit(3).withColumn("body", F.lit("upd"))
    tx_merge(upd, days_table, "id", cdf=True)
    assert tx_read(spark, days_table).columns == ["id", "ts", "body"]
    for _, kind, frame in tx_changes_cdf(spark, days_table, since_version=0):
        if frame is not None:
            assert "_p_days_ts" not in frame.columns, kind
    tx_compact(spark, days_table, target_files=2)
    got = tx_read(spark, days_table)
    assert got.columns == ["id", "ts", "body"]
    assert got.filter("body = 'upd'").count() == 3


def test_source_predicate_prunes_files_log_only(spark, days_table):
    """The IO pin (VERDICT r11 #2): a read filtered on the SOURCE
    column must hand Spark only the matching days' files — the
    predicate maps through days() before any scan exists."""
    lo, hi = dt.datetime(2024, 3, 2), dt.datetime(2024, 3, 2, 23)
    pruned = tx_read(spark, days_table, where=("ts", lo, hi))
    opened = pruned.inputFiles()
    assert opened and all("_p_days_ts=2024-03-02" in f for f in opened)
    expected = {r.id for r in _tdf(spark).collect() if r.ts.day == 2}
    assert {r.id for r in pruned.collect()} == expected


def test_transform_pruning_without_source_stats():
    """_prunable's derived-entry path stands alone: a file whose stats
    carry ONLY the [v, v] placement entry still prunes on the source
    predicate (exactly the state rewrites of stats-less tables leave)."""
    st = {"_p_days_ts": ["2024-03-02", "2024-03-02"]}
    below = (("ts", dt.datetime(2024, 3, 3), None),)
    above = (("ts", None, dt.datetime(2024, 3, 1, 23)),)
    inside = (("ts", dt.datetime(2024, 3, 2, 5), dt.datetime(2024, 3, 2, 6)),)
    assert _prunable(st, list(below))
    assert _prunable(st, list(above))
    assert not _prunable(st, list(inside))
    # string bounds map too; garbage bounds keep the file
    assert _prunable(st, [("ts", "2024-03-05", None)])
    assert not _prunable(st, [("ts", "not a date", None)])
    # months/years/hours/truncate monotone mapping
    assert _prunable(
        {"_p_months_ts": ["2024-03", "2024-03"]}, [("ts", "2024-04-01", None)]
    )
    assert _prunable(
        {"_p_years_ts": ["2024", "2024"]}, [("ts", dt.date(2025, 1, 1), None)]
    )
    assert _prunable(
        {"_p_hours_ts": ["2024-03-02-10", "2024-03-02-10"]},
        [("ts", dt.datetime(2024, 3, 2, 11), None)],
    )
    assert _prunable(
        {"_p_truncate_4_body": ["abcd", "abcd"]}, [("body", "abce", None)]
    )
    assert _prunable(
        {"_p_truncate_10_id": [20, 20]}, [("id", 31, None)]
    )
    # bucket: equality conjuncts only; ranges never prune
    bst = {"_p_bucket_8_id": [_bucket_of(7, 8), _bucket_of(7, 8)]}
    other = next(v for v in range(100) if _bucket_of(v, 8) != _bucket_of(7, 8))
    assert _prunable(bst, [("id", other, other)])
    assert not _prunable(bst, [("id", 7, 7)])
    assert not _prunable(bst, [("id", 0, 100)])


def test_bucket_point_lookup_opens_one_bucket(spark, tmp_path):
    t = str(tmp_path / "b")
    tx_write(
        _tdf(spark).repartition(4), t, partition_by=["bucket(4, id)"]
    )
    snap = _replay(spark, t)
    pruned = tx_read(spark, t, where=("id", 7, 7))
    opened = pruned.inputFiles()
    want_dir = f"_p_bucket_4_id={_bucket_of(7, 4)}/"
    assert opened and all(want_dir in f for f in opened)
    assert len(opened) < len(snap.eps)
    assert {r.id for r in pruned.collect()} == {7}


def test_append_inherits_and_canonical_mismatch(spark, days_table):
    tx_write(_tdf(spark).limit(5), days_table)  # inherits days(ts)
    # whitespace variants canonicalize to the same spec
    tx_write(_tdf(spark).limit(2), days_table, partition_by=[" days( ts ) "])
    assert tx_read(spark, days_table).count() == 47
    with pytest.raises(ValueError, match="does not match"):
        tx_write(_tdf(spark).limit(2), days_table, partition_by=["months(ts)"])
    # the derived name is reserved
    bad = _tdf(spark).withColumn("_p_days_ts", F.lit("x"))
    with pytest.raises(ValueError, match="reserved derived"):
        tx_write(bad, str(days_table) + "2", partition_by=["days(ts)"])


def test_evolution_between_specs_is_metadata_only(spark, tmp_path):
    """identity -> days(ts) -> unpartitioned: zero rewrites, mixed
    layouts read as one table, and each file still prunes under the
    spec it was WRITTEN with."""
    t = str(tmp_path / "e")
    df = _tdf(spark).withColumn("k", F.col("id") % 2)
    tx_write(df, t, partition_by=["k"])
    files_v0 = set(_replay(spark, t).eps)
    tx_set_partitioning(spark, t, ["days(ts)"])
    assert set(_replay(spark, t).eps) == files_v0  # no rewrite
    tx_write(df.limit(10), t)
    got = tx_read(spark, t)
    assert got.columns == ["id", "ts", "body", "k"]
    assert got.count() == 50
    # new-spec files prune on ts; old-spec files prune on k
    lo, hi = dt.datetime(2024, 3, 2), dt.datetime(2024, 3, 2, 23)
    opened = tx_read(spark, t, where=("ts", lo, hi)).inputFiles()
    assert not any("_p_days_ts=2024-03-01" in f for f in opened)
    opened_k = tx_read(spark, t, where=("k", 0, 0)).inputFiles()
    assert not any("/k=1/" in f for f in opened_k)
    # and back to unpartitioned, still metadata-only
    v = tx_set_partitioning(spark, t, [])
    assert v == _replay(spark, t).version
    tx_write(df.limit(3), t)
    assert tx_read(spark, t).count() == 53


def test_reader_level_3_guard(spark, tmp_path, monkeypatch):
    """A level-2 build refuses to READ a transform-partitioned table
    (it would surface the placement column as data), but time travel
    BELOW the first transform commit keeps working."""
    t = str(tmp_path / "g")
    v0 = tx_write(_tdf(spark).select("id", "body"), t)
    tx_write(
        _tdf(spark), t, mode="overwrite", partition_by=["days(ts)"]
    )
    assert tx_read(spark, t).count() == 40
    monkeypatch.setattr(txlog_core, "READER_VERSION", 2)
    with pytest.raises(RuntimeError, match="reader version 3"):
        tx_read(spark, t)
    assert tx_read(spark, t, version=v0).count() == 40  # pre-transform


def test_writer_feature_stamped_and_guards(spark, days_table, monkeypatch):
    feats = tx_properties(spark, days_table)["writer.features"]
    assert "partition-transforms" in feats and "partitioning" in feats
    # a build lacking the feature refuses to append (it could not
    # compute placement for the rows it writes)
    monkeypatch.setattr(
        txlog,
        "WRITER_FEATURES",
        frozenset(txlog.WRITER_FEATURES - {"partition-transforms"}),
    )
    with pytest.raises(RuntimeError, match="partition-transforms"):
        tx_write(_tdf(spark).limit(1), days_table)


def test_null_source_rows_survive_and_read_back_null(spark, tmp_path):
    t = str(tmp_path / "n")
    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 3, 1), "a"), (2, None, "b")],
        "id long, ts timestamp, body string",
    )
    tx_write(df, t, partition_by=["days(ts)"])
    got = {r.id: r.ts for r in tx_read(spark, t).collect()}
    assert got[2] is None and got[1] is not None
    # a pruned read keeps the null-placement file (no provable miss)
    pruned = tx_read(
        spark, t, where=("ts", None, dt.datetime(2024, 3, 9))
    )
    assert {r.id for r in pruned.collect()} == {1}


def test_bucket_expr_matches_driver_side_twin(spark):
    """_bucket_of (driver) and the staged md5 expression (JVM) must
    agree on every value, or prune would skip live buckets."""
    from distributed_mapreduce__spark.sources.txlog import (
        _PartField,
        _transform_expr,
    )

    df = spark.createDataFrame(
        [(i, f"s{i * 37}") for i in range(50)], "id long, s string"
    )
    pf_i = _PartField("bucket(16,id)", "bucket", "id", 16)
    pf_s = _PartField("bucket(16,s)", "bucket", "s", 16)
    rows = df.select(
        "id", "s",
        _transform_expr(pf_i, df).alias("bi"),
        _transform_expr(pf_s, df).alias("bs"),
    ).collect()
    for r in rows:
        assert r.bi == _bucket_of(r.id, 16)
        assert r.bs == _bucket_of(r.s, 16)


def test_zorder_preserves_transform_layout_and_pruning(spark, tmp_path):
    """OPTIMIZE ZORDER on a hidden-partitioned table re-clusters
    within the layout: outputs land back under their days() dirs, the
    hidden column stays hidden, and source-predicate pruning keeps
    holding afterwards (the rewrite re-derives placement and its path
    stats)."""
    from distributed_mapreduce__spark.sources.txlog import (
        tx_optimize_zorder,
        tx_restore,
    )

    t = str(tmp_path / "z")
    df = spark.createDataFrame(
        [(i, dt.datetime(2024, 3, 1 + i % 3), i % 100) for i in range(60)],
        "id long, ts timestamp, v long",
    )
    tx_write(df, t, partition_by=["days(ts)"], stats_cols=["v"])
    tx_optimize_zorder(spark, t, ["v"], n_files=2)
    got = tx_read(spark, t)
    assert got.columns == ["id", "ts", "v"]
    assert got.count() == 60
    lo, hi = dt.datetime(2024, 3, 2), dt.datetime(2024, 3, 2, 23)
    opened = tx_read(spark, t, where=("ts", lo, hi)).inputFiles()
    assert opened and all("_p_days_ts=2024-03-02" in f for f in opened)
    # restore across the rewrite keeps the layout readable
    tx_restore(spark, t, version=0)
    assert tx_read(spark, t).count() == 60
