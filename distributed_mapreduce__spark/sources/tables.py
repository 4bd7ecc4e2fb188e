"""Parquet table sources for the star-schema test fixtures.

Columnar parquet scans are the engine's primary source: Catalyst pushes
filters and prunes columns into the scan (verify with
``df.explain('formatted')`` → ``PushedFilters`` / ``ReadSchema``), which
is the 100 TB-scale replacement for the reference's whole-file text reads
(mapreduce/mapreduce.go:59-65 reads each input file fully into memory —
the anti-pattern we avoid).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale factor
# (region=5 rows, nation=25, supplier/part/customer grow slowly with sf).
BROADCAST_DIMS = ("region", "nation", "supplier", "part", "customer")


# events.parquet in file-column order, with the ts column declared as
# its physical INT64 — used ONLY when the footer says ts is
# TIMESTAMP(NANOS), which Spark's schema inference rejects
# (PARQUET_TYPE_ILLEGAL). Shared by the batch reader here and the
# streaming reader (streaming/windows.py).
EVENTS_RAW_SCHEMA = (
    "event_id BIGINT, ts BIGINT, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)

#: Streaming needs an explicit schema even for the plain-timestamp cases.
EVENTS_TS_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)
EVENTS_TS_NTZ_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)


def events_ts_type(path: str) -> tuple[str, bool]:
    """(time unit, is-UTC-instant) of ``events.ts`` from the parquet
    footer.

    Fixture generators have emitted nanosecond (pandas default),
    microsecond-instant, and microsecond-NTZ timestamps across rounds,
    and each needs a different read path in Spark (NANOS breaks schema
    inference; NTZ infers as TIMESTAMP_NTZ, which ``unix_micros`` /
    LTZ-typed code rejects). One driver-side footer read settles it —
    no data is scanned.
    """
    import glob as _glob

    import pyarrow.parquet as _pq

    f = path
    if os.path.isdir(path):
        found = sorted(
            _glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        )
        if not found:
            raise FileNotFoundError(
                f"no parquet data files under {path!r} — empty or "
                "partially-written dataset (only _SUCCESS/metadata?)"
            )
        f = found[0]
    typ = _pq.ParquetFile(f).schema_arrow.field("ts").type
    return getattr(typ, "unit", "us"), getattr(typ, "tz", None) is not None


def footer_schema(path: str):
    """Spark read schema from ONE driver-side pyarrow footer read, or
    None when the footer can't be mapped (caller falls back to Spark's
    inference).

    Schema inference (`spark.read.parquet` without a schema) runs a
    whole Spark JOB to read footers — ~85-100 ms per call even for a
    5-row dimension table, and the bench's timed region constructs
    every query fresh each pass (guide §1: measure first — this was
    ~2 s/pass across the 18 headline queries). A pyarrow footer read
    is ~0.3 ms and `from_arrow_schema(prefer_timestamp_ntz=True)`
    reproduces Spark 4's parquet inference exactly — parity asserted
    for every fixture table × SF in
    tests/test_sources_tables.py::test_footer_schema_matches_spark_inference
    (mandatory for any TABLE_NAMES addition). At 100 TB the same move
    is "pass the catalog schema": inference over a million-file table
    is a driver-side listing + footer job you never want in a query
    path.

    Multi-file directories are guarded (round 16, VERDICT r15 #8 /
    ADVICE): the shortcut only applies when every footer agrees —
    up to a small bounded count of footer reads; directories with
    drifted footers, or with more files than the bound, return None
    so Spark's own inference (which merges or errors per its
    documented rules) stays the source of truth. The except-fallback
    alone could not catch drift: file[0]'s footer converts cleanly
    and would have silently typed the whole table.
    """
    try:
        import pyarrow.parquet as _pq
        from pyspark.sql.pandas.types import from_arrow_schema

        f = path
        if os.path.isdir(path):
            import glob as _glob

            found = sorted(
                _glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
            )
            if not found:
                return None
            f = found[0]
            if len(found) > 1:
                if len(found) > 16:  # big layout: one inference job
                    return None      # beats N driver footer reads
                first = _pq.ParquetFile(f).schema_arrow
                for other in found[1:]:
                    if _pq.ParquetFile(other).schema_arrow != first:
                        return None  # drifted footers: let Spark rule
        return from_arrow_schema(
            _pq.ParquetFile(f).schema_arrow, prefer_timestamp_ntz=True
        )
    except Exception:
        return None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table: ``{sf_dir}/{name}.parquet``.

    The read schema comes from :func:`footer_schema` (one pyarrow
    footer read) instead of Spark's inference job — identical schema,
    ~85 ms less driver time per call (see footer_schema's doc).

    When ``events.ts`` is parquet TIMESTAMP(NANOS) — which Spark's
    schema inference rejects (PARQUET_TYPE_ILLEGAL) — an explicit read
    schema with ts as BIGINT sidesteps inference, scoped to this one
    read (no session-wide conf flips: the earlier ``nanosAsLong``
    approach silently changed NANOS handling for every other read in
    the session), and we truncate nanos to microseconds, byte-identical
    to how DuckDB/Arrow convert ns→µs. Micro/millisecond timestamps
    read natively; NTZ-flavored ones are cast to the session-TZ
    TIMESTAMP (the repo-wide ts contract) — value-identical because the
    session timezone is pinned to UTC.
    """
    if name not in TABLE_NAMES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        if events_ts_type(path)[0] == "ns":
            df = spark.read.schema(EVENTS_RAW_SCHEMA).parquet(path)
            return df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        sch = footer_schema(path)
        reader = spark.read.schema(sch) if sch is not None else spark.read
        return reader.parquet(path).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
    sch = footer_schema(path)
    reader = spark.read.schema(sch) if sch is not None else spark.read
    return reader.parquet(path)


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Load several tables at once; all of them when ``names`` is empty."""
    wanted = names or TABLE_NAMES
    return {n: load_table(spark, sf_dir, n) for n in wanted}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register fixture tables as temp views for the SQL entry points."""
    for name, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(name)


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A DataFrame over driver-side ``rows`` — tuples in ``schema``'s
    field order, or dicts keyed by field name (missing keys are NULL)
    — that Spark plans as a ``LocalRelation``.

    ``schema`` is a DDL string or a ``StructType``; it is required, so
    the column types never depend on the values. The rows go to the
    JVM once, as one Arrow table, and live in the plan. Handing
    ``createDataFrame`` a Python list instead plans a ``LogicalRDD``
    over a parallelized Python RDD, so EVERY execution of a plan that
    holds it starts Python workers to unpickle a few rows (every txlog
    positional scan, hence every UPDATE and DELETE, paid for them).
    The Arrow path is independent of
    ``spark.sql.execution.arrow.pyspark.enabled``, so a caller-supplied
    session with Arrow off still gets the local plan. This is the
    package's only ``createDataFrame`` call (pinned by
    tests/test_local_frame.py).
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, _parse_datatype_string

    struct = (
        schema if isinstance(schema, StructType)
        else _parse_datatype_string(schema)
    )
    names = struct.fieldNames()
    tuples = [
        tuple(r.get(n) for n in names) if isinstance(r, dict) else r
        for r in rows
    ]
    arrow = to_arrow_schema(struct)
    cols = list(zip(*tuples)) or [()] * len(names)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, struct)


def read_parquet_evolving(spark: SparkSession, *paths: str) -> DataFrame:
    """Read parquet written across schema generations as ONE DataFrame.

    Long-lived corpora accrete columns (a quality score added in
    month 3, a license tag in month 7). ``mergeSchema`` unions the
    footer schemas across all inputs; rows from files missing a column
    read as NULL. Spark still prunes columns and pushes filters into
    each file's scan — schema evolution costs footer reconciliation at
    planning time, not scan time (the per-file read schema is the
    intersection of the merged schema and that file's columns).

    Caveats the caller owns (tested in tests/test_schema_evolution.py):
    same-name columns must keep a compatible type across generations
    (INT→LONG widens; INT→STRING fails the merge), and column RENAMES
    are two columns to mergeSchema — migrate with an explicit select,
    not the reader.
    """
    return spark.read.option("mergeSchema", "true").parquet(*paths)
