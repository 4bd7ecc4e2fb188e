"""SQL DML front door (sources/tx_sql.py, round 13): every statement
type dispatches to its Python front and must act bit-identically to
calling that front directly; reads re-resolve registered snapshots so
SELECT-after-DML sees the commit; everything outside the documented
grammar refuses loudly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from distributed_mapreduce__spark.sources.tx_sql import (
    tx_register_table,
    tx_sql,
)
from distributed_mapreduce__spark.sources.txlog import (
    _replay,
    tx_delete_where,
    tx_merge,
    tx_read,
    tx_update,
    tx_write,
)


def _df(spark):
    return spark.range(200).select(
        "id", (F.col("id") % 10).alias("v"), F.lit("x").alias("tag")
    )


def _rows(spark, path):
    return sorted(tuple(r) for r in tx_read(spark, path).collect())


@pytest.fixture()
def pair(spark, tmp_path):
    """Two identical tables: one driven by SQL, the twin by Python."""
    a, b = str(tmp_path / "sql"), str(tmp_path / "py")
    tx_write(_df(spark).repartition(4), a, stats_cols=["id"])
    tx_write(_df(spark).repartition(4), b, stats_cols=["id"])
    tx_register_table(spark, "t_sql", a)
    return a, b


def test_update_matches_python_twin(spark, pair):
    a, b = pair
    v = tx_sql(
        spark,
        "UPDATE t_sql SET tag = 'hot', v = v + 100 WHERE v = 3",
    )
    tx_update(spark, b, "v = 3", {"tag": "'hot'", "v": "v + 100"})
    assert isinstance(v, int)
    assert _rows(spark, a) == _rows(spark, b)
    # the registered view refreshed: SQL reads see the commit
    assert (
        tx_sql(spark, "SELECT count(*) AS n FROM t_sql WHERE tag = 'hot'")
        .collect()[0].n == 20
    )


def test_delete_matches_python_twin(spark, pair):
    a, b = pair
    tx_sql(spark, "DELETE FROM t_sql WHERE id % 7 = 0")
    tx_delete_where(spark, b, "id % 7 = 0")
    assert _rows(spark, a) == _rows(spark, b)


def test_insert_select_and_values(spark, pair):
    a, b = pair
    tx_sql(
        spark,
        "INSERT INTO t_sql SELECT id + 1000 AS id, "
        "CAST(id % 10 AS BIGINT) AS v, 'new' AS tag FROM range(10)",
    )
    tx_write(
        spark.sql(
            "SELECT id + 1000 AS id, CAST(id % 10 AS BIGINT) AS v, "
            "'new' AS tag FROM range(10)"
        ),
        b,
    )
    assert _rows(spark, a) == _rows(spark, b)
    # VALUES binds by position to the table schema
    tx_sql(spark, "INSERT INTO t_sql VALUES (9999, CAST(1 AS BIGINT), 'v')")
    assert tx_read(spark, a).filter("id = 9999").count() == 1
    with pytest.raises(ValueError, match="arity"):
        tx_sql(spark, "INSERT INTO t_sql VALUES (1, 2)")


def test_merge_matches_python_twin(spark, pair):
    a, b = pair
    upd = spark.createDataFrame(
        [(5, 500, "merged"), (5000, 1, "fresh")],
        "id long, v long, tag string",
    )
    upd.createOrReplaceTempView("updates_src")
    tx_sql(spark, "MERGE INTO t_sql USING updates_src ON t.id = s.id")
    tx_merge(upd, b, "id")
    assert _rows(spark, a) == _rows(spark, b)
    with pytest.raises(ValueError, match="MERGE ON"):
        tx_sql(spark, "MERGE INTO t_sql USING updates_src ON t.id = s.key")
    with pytest.raises(ValueError, match="subqueries"):
        tx_sql(
            spark,
            "MERGE INTO t_sql USING (SELECT 1 AS id) ON id",
        )


def test_optimize_vacuum_preserve_rows(spark, pair):
    a, _ = pair
    for i in range(3):
        tx_sql(
            spark,
            f"INSERT INTO t_sql SELECT id + {2000 + i * 100} AS id, "
            "CAST(0 AS BIGINT) AS v, 'z' AS tag FROM range(5)",
        )
    before = _rows(spark, a)
    assert tx_sql(spark, "OPTIMIZE t_sql") is not None
    deleted = tx_sql(spark, "VACUUM t_sql")
    assert isinstance(deleted, list)
    assert _rows(spark, a) == before
    # ZORDER form
    assert tx_sql(spark, "OPTIMIZE t_sql ZORDER BY (id, v)") is not None
    assert _rows(spark, a) == before


def test_alter_family(spark, pair):
    a, _ = pair
    tx_sql(spark, "ALTER TABLE t_sql RENAME COLUMN tag TO label")
    assert "label" in tx_read(spark, a).columns
    tx_sql(spark, "ALTER TABLE t_sql ADD CONSTRAINT v_small CHECK (v < 1000)")
    with pytest.raises(Exception, match="v_small"):
        tx_sql(spark, "UPDATE t_sql SET v = CAST(5000 AS BIGINT) WHERE id = 1")
    tx_sql(spark, "ALTER TABLE t_sql DROP CONSTRAINT v_small")
    tx_sql(spark, "ALTER TABLE t_sql DROP COLUMN label")
    assert tx_read(spark, a).columns == ["id", "v"]
    tx_sql(spark, "UPDATE t_sql SET v = CAST(5000 AS BIGINT) WHERE id = 1")
    assert tx_read(spark, a).filter("v = 5000").count() == 1


def test_set_partitioned_by(spark, pair):
    a, _ = pair
    tx_sql(spark, "ALTER TABLE t_sql SET PARTITIONED BY (v)")
    tx_sql(
        spark,
        "INSERT INTO t_sql SELECT CAST(7777 AS BIGINT) AS id, "
        "CAST(7 AS BIGINT) AS v, 'p' AS tag",
    )
    snap = _replay(spark, a)
    new = [f for f, ver in snap.eps.items() if ver == snap.version]
    assert new and all("v=7" in f for f in new)


def test_inline_path_form(spark, tmp_path):
    t = str(tmp_path / "inline")
    tx_write(_df(spark), t)
    v = tx_sql(spark, f"DELETE FROM txtable.`{t}` WHERE id < 100")
    assert isinstance(v, int)
    assert tx_read(spark, t).count() == 100


def test_refusals(spark, pair):
    with pytest.raises(KeyError, match="unknown table"):
        tx_sql(spark, "DELETE FROM nope WHERE 1=1")
    with pytest.raises(ValueError, match="unsupported statement"):
        tx_sql(spark, "TRUNCATE TABLE t_sql")
    with pytest.raises(ValueError, match="SET assignment"):
        tx_sql(spark, "UPDATE t_sql SET 5 WHERE id = 1")


def test_restore_and_describe_detail(spark, pair):
    a, _ = pair
    tx_sql(spark, "DELETE FROM t_sql WHERE id < 150")
    assert tx_sql(spark, "SELECT count(*) AS n FROM t_sql").first().n == 50
    tx_sql(spark, "RESTORE TABLE t_sql TO VERSION AS OF 0")
    assert tx_sql(spark, "SELECT count(*) AS n FROM t_sql").first().n == 200
    det = tx_sql(spark, "DESCRIBE DETAIL t_sql").collect()
    assert len(det) == 1
    row = det[0].asDict()
    assert row["num_files"] >= 1 and row["version"] >= 2


# ---------------------------------------------------------------- r14


def test_merge_when_clauses_match_python_twin(spark, pair):
    a, b = pair
    src = spark.createDataFrame(
        [(3, 500, "s"), (7, 1, "s"), (777, 9, "s"), (888, 9, "s")],
        "id long, v long, tag string",
    )
    src.createOrReplaceTempView("m_src")
    v = tx_sql(
        spark,
        "MERGE INTO t_sql USING m_src AS u ON t_sql.id = u.id "
        "WHEN MATCHED AND u.v > t_sql.v THEN UPDATE SET v = u.v, "
        "tag = concat(t.tag, '!') "
        "WHEN MATCHED THEN DELETE "
        "WHEN NOT MATCHED AND u.id < 800 THEN "
        "INSERT (id, v, tag) VALUES (u.id, u.v * 2, 'new')",
    )
    assert isinstance(v, int)
    tx_merge(
        src, b, "id",
        when_matched=[
            {"condition": "s.v > t.v",
             "set": {"v": "s.v", "tag": "concat(t.tag, '!')"}},
            {"action": "delete"},
        ],
        when_not_matched=[
            {"condition": "s.id < 800",
             "values": {"id": "s.id", "v": "s.v * 2", "tag": "'new'"}},
        ],
    )
    assert _rows(spark, a) == _rows(spark, b)


def test_merge_by_source_and_multi_key_sql(spark, tmp_path):
    a, b = str(tmp_path / "sql"), str(tmp_path / "py")
    df = spark.createDataFrame(
        [(1, "a", 10), (1, "b", 20), (2, "a", 30)],
        "k1 long, k2 string, v long",
    )
    tx_write(df, a)
    tx_write(df, b)
    tx_register_table(spark, "mk_sql", a)
    src = spark.createDataFrame(
        [(1, "a", 100)], "k1 long, k2 string, v long"
    )
    src.createOrReplaceTempView("mk_src")
    tx_sql(
        spark,
        "MERGE INTO mk_sql USING mk_src ON mk_sql.k1 = mk_src.k1 "
        "AND k2 = k2 "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = t.v + 1",
    )
    tx_merge(
        src, b, ["k1", "k2"],
        when_matched=[{}],
        when_not_matched_by_source=[
            {"action": "update", "set": {"v": "t.v + 1"}}
        ],
    )
    assert _rows(spark, a) == _rows(spark, b)


def test_clause_less_merge_upserts_on_composite_key(spark, tmp_path):
    """MERGE with no WHEN clause is the unconditional upsert on every
    ON key, composite ones included — the same as tx_merge(src, t,
    [k1, k2])."""
    a, b = str(tmp_path / "sql"), str(tmp_path / "py")
    df = spark.createDataFrame(
        [(1, "a", 10), (1, "b", 20), (2, "a", 30)],
        "k1 long, k2 string, v long",
    )
    tx_write(df, a)
    tx_write(df, b)
    tx_register_table(spark, "ck_sql", a)
    src = spark.createDataFrame(
        [(1, "b", 200), (2, "b", 40)], "k1 long, k2 string, v long"
    )
    src.createOrReplaceTempView("ck_src")
    tx_sql(
        spark,
        "MERGE INTO ck_sql USING ck_src ON ck_sql.k1 = ck_src.k1 "
        "AND ck_sql.k2 = ck_src.k2",
    )
    tx_merge(src, b, ["k1", "k2"])
    assert _rows(spark, a) == _rows(spark, b) == [
        (1, "a", 10), (1, "b", 200), (2, "a", 30), (2, "b", 40),
    ]


def test_update_where_inside_string_literal(spark, pair):
    a, b = pair
    # round-14: the bare WHERE inside the literal no longer splits the
    # SET list (the round-13 documented trap)
    tx_sql(
        spark,
        "UPDATE t_sql SET tag = ' WHERE is a word' WHERE id = 5",
    )
    tx_update(spark, b, "id = 5", {"tag": "' WHERE is a word'"})
    assert _rows(spark, a) == _rows(spark, b)


def test_merge_set_with_case_when(spark, pair):
    a, b = pair
    src = spark.createDataFrame(
        [(4, 0, "s"), (6, 9, "s")], "id long, v long, tag string"
    )
    src.createOrReplaceTempView("case_src")
    tx_sql(
        spark,
        "MERGE INTO t_sql USING case_src ON t_sql.id = case_src.id "
        "WHEN MATCHED THEN UPDATE SET tag = "
        "CASE WHEN case_src.v > 5 THEN 'big' ELSE 'small' END",
    )
    tx_merge(
        src, b, "id",
        when_matched=[{"set": {
            "tag": "CASE WHEN s.v > 5 THEN 'big' ELSE 'small' END"}}],
    )
    assert _rows(spark, a) == _rows(spark, b)


def test_tblproperties_set_unset(spark, pair):
    a, _b = pair
    from distributed_mapreduce__spark.sources.txlog import tx_properties

    tx_sql(
        spark,
        "ALTER TABLE t_sql SET TBLPROPERTIES ("
        "'cdf.enabled' = 'false', 'owner' = 'team-data', 'retries'='3')",
    )
    props = tx_properties(spark, a)
    assert props["cdf.enabled"] is False  # coerced, not the string
    assert props["owner"] == "team-data" and props["retries"] == 3
    tx_sql(spark, "ALTER TABLE t_sql UNSET TBLPROPERTIES ('owner')")
    assert "owner" not in tx_properties(spark, a)


def test_describe_history_frame(spark, pair):
    a, _b = pair
    # a DV delete puts an INTEGER extra (dv_targets) in the history —
    # the frame's extras are declared string, so it must stringify
    tx_sql(spark, "DELETE FROM t_sql WHERE id < 10")
    h = tx_sql(spark, "DESCRIBE HISTORY t_sql")
    rows = h.collect()
    assert rows[0].version > rows[-1].version  # newest first
    assert {r.action for r in rows} >= {"append", "delete"}
    assert h.columns[:4] == ["version", "action", "n_added", "n_removed"]
    assert "dv_targets" in h.columns
    assert any(r.dv_targets is not None for r in rows)


def test_restore_timestamp_as_of(spark, pair):
    a, _b = pair
    import json, os, time

    n0 = tx_read(spark, a).count()
    tx_sql(spark, "DELETE FROM t_sql WHERE id < 100")
    # pick the instant just after v0 from its own commit stamp
    c0 = json.load(open(os.path.join(a, "_txlog", f"{0:020d}.json")))
    ts = c0["ts"] + 0.0001
    from datetime import datetime, timezone

    iso = datetime.fromtimestamp(ts, tz=timezone.utc).isoformat()
    tx_sql(spark, f"RESTORE TABLE t_sql TO TIMESTAMP AS OF '{iso}'")
    assert tx_read(spark, a).count() == n0


def test_select_version_as_of(spark, pair):
    a, _b = pair
    tx_sql(spark, "DELETE FROM t_sql WHERE id >= 50")
    now = tx_sql(spark, "SELECT count(*) AS n FROM t_sql").first().n
    old = tx_sql(
        spark,
        "SELECT count(*) AS n FROM t_sql VERSION AS OF 0",
    ).first().n
    assert (now, old) == (50, 200)
    # joins across versions work too (self-diff)
    diff = tx_sql(
        spark,
        "SELECT count(*) AS n FROM t_sql VERSION AS OF 0 o "
        "LEFT ANTI JOIN t_sql c ON o.id = c.id",
    ).first().n
    assert diff == 150


def test_inline_path_with_spaces(spark, tmp_path):
    t = str(tmp_path / "a table with spaces")
    tx_write(_df(spark), t)
    v = tx_sql(spark, f"DELETE FROM txtable.`{t}` WHERE id < 100")
    assert isinstance(v, int)
    assert tx_read(spark, t).count() == 100


def test_requalify_skips_string_literals(spark, pair):
    """Round 15 (VERDICT r14 #5): a MERGE SET literal containing the
    target-table name keeps its bytes — the alias rewrite is
    literal-aware now, not a blind word-boundary sub."""
    a, _b = pair
    spark.range(0, 5).select(
        "id", (F.col("id") % 10).alias("v"), F.lit("s").alias("tag")
    ).createOrReplaceTempView("src_lit")
    tx_sql(
        spark,
        "MERGE INTO t_sql USING src_lit ON t_sql.id = src_lit.id "
        "WHEN MATCHED THEN UPDATE SET tag = 'see t_sql.log', "
        "v = t_sql.v + src_lit.v",
    )
    got = {r.id: (r.tag, r.v) for r in tx_read(spark, a).collect()}
    for i in range(5):
        assert got[i] == ("see t_sql.log", (i % 10) * 2)


def test_requalify_escaped_quotes_in_literals(spark, pair):
    """Round 15 review: backslash-escaped (Spark's default
    ``escapedStringLiterals=false``) and doubled quotes inside a SET
    literal don't flip the quote mask — the literal's bytes survive
    AND the qualifier rewrite after the literal still applies (the
    naive toggle scanner treated the ``\\'`` as the closing quote and
    silently skipped every rewrite after it)."""
    from distributed_mapreduce__spark.sources.tx_sql import (
        _unquoted_positions,
    )

    s = r"tag = 'it\'s', v = t_sql.v + 1"
    unq = _unquoted_positions(s)
    assert s.index("t_sql.v") in unq  # after the escaped literal
    assert s.index("it") not in unq
    s2 = "tag = 'it''s', v = t_sql.v + 1"
    assert s2.index("t_sql.v") in _unquoted_positions(s2)

    a, _b = pair
    spark.range(0, 5).select(
        "id", (F.col("id") % 10).alias("v"), F.lit("s").alias("tag")
    ).createOrReplaceTempView("src_esc")
    tx_sql(
        spark,
        "MERGE INTO t_sql USING src_esc ON t_sql.id = src_esc.id "
        "WHEN MATCHED THEN UPDATE SET tag = 'see t_sql\\'s log', "
        "v = t_sql.v + src_esc.v",
    )
    got = {r.id: (r.tag, r.v) for r in tx_read(spark, a).collect()}
    for i in range(5):
        assert got[i] == ("see t_sql's log", (i % 10) * 2)


def test_time_travel_ref_inside_literal_survives(spark, pair):
    """ADVICE r14: a string literal like 't_sql VERSION AS OF 0' in a
    WHERE clause is data, not a time-travel reference — while a
    subquery's real reference still rewrites."""
    a, _b = pair
    tx_sql(spark, "UPDATE t_sql SET tag = 'upd' WHERE v = 3")
    out = tx_sql(
        spark,
        "SELECT count(*) AS n FROM t_sql "
        "WHERE tag <> 't_sql VERSION AS OF 0'",
    ).collect()[0].n
    assert out == 200
    # the same phrase OUTSIDE a literal (in a subquery) still travels
    n0 = tx_sql(
        spark,
        "SELECT (SELECT count(*) FROM t_sql VERSION AS OF 0 "
        "WHERE tag = 'upd') AS n",
    ).collect()[0].n
    assert n0 == 0


@pytest.mark.slow  # round-16 tier: driver-window default excludes it
def test_history_is_selectable_relation(spark, pair):
    """Round 15 (VERDICT r14 #6): <name>$history composes in SELECT —
    filter by version, aggregate, and feed subqueries."""
    a, _b = pair
    tx_sql(spark, "UPDATE t_sql SET tag = 'u1' WHERE v = 1")
    tx_sql(spark, "UPDATE t_sql SET tag = 'u2' WHERE v = 2")
    rows = tx_sql(
        spark,
        "SELECT version, action FROM t_sql$history "
        "WHERE version > 0 ORDER BY version",
    ).collect()
    assert [(r.version, r.action) for r in rows] == [
        (1, "update"), (2, "update"),
    ]
    mx = tx_sql(
        spark,
        "SELECT max(version) AS v FROM t_sql$history "
        "WHERE action = 'update'",
    ).collect()[0].v
    assert mx == 2
    # literal containing the reference is untouched
    lit = tx_sql(
        spark, "SELECT 't_sql$history' AS s"
    ).collect()[0].s
    assert lit == "t_sql$history"


def test_files_and_detail_are_selectable_relations(spark, pair):
    """Round 15: the metadata-table family completes — ``t$files``
    (one row per live file: size, partition values, stats, dv flag,
    spec id) and ``t$detail`` compose in SELECT like ``t$history``,
    so "how big is this table on disk" or "which files does a DV
    target" are ONE SQL statement, cross-checkable against the
    python APIs they bind."""
    import os

    from distributed_mapreduce__spark.sources.txlog import (
        tx_detail,
        tx_files,
    )

    a, _b = pair
    got = tx_sql(
        spark,
        "SELECT count(*) AS n, sum(size_bytes) AS b FROM t_sql$files",
    ).collect()[0]
    pyrows = tx_files(spark, a).collect()
    assert got.n == len(pyrows) == 4
    assert got.b == sum(r.size_bytes for r in pyrows)
    assert got.b == sum(
        os.path.getsize(os.path.join(a, r.file)) for r in pyrows
    )
    # joins against data relations compose too
    top = tx_sql(
        spark,
        "SELECT f.file FROM t_sql$files f "
        "ORDER BY f.size_bytes DESC, f.file LIMIT 1",
    ).collect()[0].file
    assert top in {r.file for r in pyrows}
    det = tx_sql(
        spark,
        "SELECT num_files, version FROM t_sql$detail",
    ).collect()[0]
    d = tx_detail(spark, a)
    assert det.num_files == d["num_files"] == 4
    assert det.version == d["version"]
    # literal containing the reference is untouched
    lit = tx_sql(spark, "SELECT 't_sql$files' AS s").collect()[0].s
    assert lit == "t_sql$files"


def test_metadata_view_name_cannot_clobber_registered_table(
    spark, pair, tmp_path
):
    """Round 15 review: a registered table legally named
    '<name>__files' must not be clobbered by the ``<name>$files``
    rewrite's temp view — metadata views live under a reserved
    prefix."""
    other = str(tmp_path / "other")
    tx_write(_df(spark).limit(7), other)
    tx_register_table(spark, "t_sql__files", other)
    row = tx_sql(
        spark,
        "SELECT (SELECT count(*) FROM t_sql__files) AS a, "
        "(SELECT count(*) FROM t_sql$files) AS b",
    ).collect()[0]
    assert row.a == 7          # the registered TABLE, untouched
    assert row.b == 4          # the metadata relation (4 files)
