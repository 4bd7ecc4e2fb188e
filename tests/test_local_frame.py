"""Driver-side tables (sources/tables.local_frame) plan as a
``LocalRelation``: no parallelized Python RDD, so executing a plan that
holds one never starts Python workers. Pins the plan shape, parity
with ``createDataFrame(<list>)`` for every column shape the package
builds, both Arrow settings, the txlog positional scan, and that no
other ``createDataFrame`` call creeps back into the package."""

from __future__ import annotations

import inspect
import os
import re

import pytest

import distributed_mapreduce__spark as pkg
from distributed_mapreduce__spark.sources import txlog
from distributed_mapreduce__spark.sources.tables import local_frame

ARROW = "spark.sql.execution.arrow.pyspark.enabled"

#: (DDL, rows) — every column shape the package's sites build, with
#: NULLs in each column and the zero-row case.
SHAPES = [
    ("s string, i int", [("a", 1), (None, None), ("", -7)]),
    ("l long, d double, b boolean", [(2**40, 0.5, True), (None, None, None), (-1, -2.25, False)]),
    ("k int, v array<double>", [(0, [1.0, -2.5]), (1, []), (2, None), (3, [None, 3.0])]),
    ("_file string, __rb long", []),
]


def _plan(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


@pytest.fixture(params=["true", "false"], ids=["arrow_on", "arrow_off"])
def arrow_conf(spark, request):
    old = spark.conf.get(ARROW)
    spark.conf.set(ARROW, request.param)
    yield
    spark.conf.set(ARROW, old)


@pytest.mark.parametrize("ddl,rows", SHAPES, ids=[s[0] for s in SHAPES])
def test_matches_create_dataframe(spark, arrow_conf, ddl, rows):
    new = local_frame(spark, rows, ddl)
    old = spark.createDataFrame(rows, ddl)
    assert new.schema == old.schema
    assert new.collect() == old.collect()
    assert "LocalRelation" in _plan(new)
    assert "LogicalRDD" not in _plan(new)


def test_dict_rows_and_struct_schema(spark, arrow_conf):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    struct = StructType(
        [StructField("a", StringType()), StructField("n", LongType(), False)]
    )
    df = local_frame(spark, [{"n": 3}, {"a": "x", "n": 4}], struct)
    assert df.schema == struct
    assert [tuple(r) for r in df.collect()] == [(None, 3), ("x", 4)]
    assert "LogicalRDD" not in _plan(df)


def test_positional_scan_has_no_python_rdd(spark, tmp_path):
    path = str(tmp_path / "t")
    txlog.tx_write(spark.range(20).selectExpr("id AS k"), path)
    txlog.tx_write(spark.range(20, 30).selectExpr("id AS k"), path)
    snap = txlog._replay(spark, path)
    df = txlog._scan_files(spark, path, snap, sorted(snap.eps), with_pos=True)
    plan = _plan(df)
    assert "LocalRelation" in plan and "LogicalRDD" not in plan
    assert sorted(r.k for r in df.collect()) == list(range(30))


def test_no_create_dataframe_outside_local_frame():
    """The Python-worker hop cannot come back unnoticed: the helper is
    the package's only ``createDataFrame(`` call."""
    root = os.path.dirname(os.path.abspath(pkg.__file__))
    hits = set()
    for d, _, names in os.walk(root):
        for n in names:
            if not n.endswith(".py"):
                continue
            p = os.path.join(d, n)
            with open(p, encoding="utf-8") as fh:
                for i, line in enumerate(fh, 1):
                    if re.search(r"createDataFrame\(", line):
                        hits.add((os.path.relpath(p, root), i))
    lines, start = inspect.getsourcelines(local_frame)
    allowed = {
        (os.path.join("sources", "tables.py"), start + k)
        for k, line in enumerate(lines)
        if "createDataFrame(" in line
    }
    assert allowed, "local_frame no longer calls createDataFrame"
    assert hits == allowed, sorted(hits - allowed)
