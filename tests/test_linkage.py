"""Fuzzy key join (operators/linkage.py): the rarest-gram
prefix-blocking + Levenshtein pipeline must EQUAL the brute-force
all-pairs join (completeness is the prefix-filter theorem plus the
short-key fallback, not a recall hope) on fixture names, planted
typos, and degenerate short keys, replayed in DuckDB."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from distributed_mapreduce__spark.operators.linkage import fuzzy_key_join
from distributed_mapreduce__spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _brute_force(l_keys, r_keys, d):
    import duckdb

    con = duckdb.connect()
    lv = ", ".join("('" + k.replace("'", "''") + "')" for k in l_keys)
    rv = ", ".join("('" + k.replace("'", "''") + "')" for k in r_keys)
    out = set(
        con.execute(
            f"""
            SELECT l.k, r.k, levenshtein(l.k, r.k) AS dist
            FROM (VALUES {lv}) l(k), (VALUES {rv}) r(k)
            WHERE levenshtein(l.k, r.k) <= {d}
            """
        ).fetchall()
    )
    con.close()
    return out


@pytest.fixture(scope="module")
def name_tables(spark):
    cust = load_table(spark, SF, "customer").select(
        F.col("c_name").alias("name")
    )
    rows = [r.name for r in cust.limit(40).collect()]
    # planted typos of the first few names: substitution, deletion,
    # insertion, and an identical copy
    typos = [
        rows[0][:-1] + "X",
        rows[1][1:],
        rows[2] + "q",
        rows[3],
        "completely different string",
    ]
    right = spark.createDataFrame([(t,) for t in typos], "name string")
    left = spark.createDataFrame([(n,) for n in rows], "name string")
    return left, right, rows, typos


def test_equals_brute_force(spark, name_tables):
    left, right, rows, typos = name_tables
    for d in (0, 1, 2):
        got = {
            (r.name_l, r.name_r, r.distance)
            for r in fuzzy_key_join(left, right, "name", "name", d).collect()
        }
        want = _brute_force(rows, typos, d)
        assert got == want, (d, got ^ want)
    # the planted pairs specifically survive at d=2
    got2 = {
        (r.name_l, r.name_r)
        for r in fuzzy_key_join(left, right, "name", "name", 2).collect()
    }
    assert (rows[0], typos[0]) in got2
    assert (rows[1], typos[1]) in got2
    assert (rows[2], typos[2]) in got2
    assert (rows[3], typos[3]) in got2
    assert not any(b == typos[4] for _, b in got2)


def test_self_join_and_special_chars(spark):
    """Keys containing the erstwhile separator / regex metacharacters
    parse correctly (struct grams, not packed strings)."""
    keys = ["a:b:c", "a:b:d", "x.y*z", "x.y*w", "##", "#a#"]
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    got = {
        (r.k_l, r.k_r, r.distance)
        for r in fuzzy_key_join(df, df, "k", "k", 1).collect()
    }
    want = _brute_force(keys, keys, 1)
    assert got == want


def test_no_cartesian_plan(spark, name_tables):
    left, right, _, _ = name_tables
    plan = (
        fuzzy_key_join(left, right, "name", "name", 2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_guards(spark):
    df = spark.createDataFrame([("a",)], "k string")
    with pytest.raises(ValueError):
        fuzzy_key_join(df, df, "k", "k", -1)
    with pytest.raises(ValueError):
        fuzzy_key_join(df, df, "k", "k", 1, q=0)


def test_short_keys_complete(spark):
    """The review-caught gap: keys with <= q*d grams can lose their
    whole gram set to d edits ('a'~'b' at d=1 shares zero grams) — the
    short-key fallback must keep the brute-force equality exact."""
    lkeys = ["a", "ab", "x", "", "apple", "grape"]
    rkeys = ["b", "cd", "xy", "z", "appze", "grapes"]
    ldf = spark.createDataFrame([(k,) for k in lkeys], "k string")
    rdf = spark.createDataFrame([(k,) for k in rkeys], "k string")
    for d in (1, 2):
        got = {
            (r.k_l, r.k_r, r.distance)
            for r in fuzzy_key_join(ldf, rdf, "k", "k", d).collect()
        }
        want = _brute_force(lkeys, rkeys, d)
        assert got == want, (d, got ^ want)
    # the canonical gap pair is really found (zero shared grams)
    assert ("a", "b", 1) in got


def test_affix_trim_ignores_session_collation(spark):
    """The affix trim reasons in code-point order; neither a
    case-insensitive session default collation nor keys that arrive
    UTF8_LCASE-collated may change the pairs found. (Spark 4.1 has no
    ``spark.sql.session.collation.default``; setting it is then inert,
    and the test still pins the result for versions that honour it.)"""
    keys = ["abcd1", "ABcd2", "abcd3", "Abcd4", "abce1", "ABCD1", "xbcd1", "aBcd9"]
    df = spark.createDataFrame([(k,) for k in keys], "k string")

    def pairs(frame):
        out = fuzzy_key_join(frame, frame, "k", "k", max_distance=1)
        return sorted(
            map(tuple, out.filter(F.col("k_l") < F.col("k_r")).collect())
        )

    base = pairs(df)
    conf = "spark.sql.session.collation.default"
    old = spark.conf.get(conf, None)
    spark.conf.set(conf, "UTF8_LCASE")
    try:
        lcase = pairs(df)
    finally:
        if old is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, old)
    assert lcase == base
    assert pairs(df.select(F.collate("k", "UTF8_LCASE").alias("k"))) == base
    brute = {
        (a, b, d) for a, b, d in _brute_force(keys, keys, 1) if a < b
    }
    assert set(base) == brute
