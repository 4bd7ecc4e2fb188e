"""Event-time window + JSON queries over ``events`` (SURVEY.md §2.2 E7).

Oracle notes: DuckDB has no window()/session_window(), so the oracles
spell out the semantics — epoch-aligned integer bucketing for tumbling
(Spark windows are epoch-aligned by default), a UNION ALL of the
duration/slide shifted buckets for sliding, and classic gaps-and-islands
(lag + running sum of session breaks) for session windows. Matching these
closed forms IS the semantic check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.timeseries import sessionized, sliding, tumbling
from ..registry import register, register_local
from ..sources.tables import load_table

_AGGS_SQL = """
           count(*) AS n_events,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_value,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_value
"""


@register(
    "events_tumbling",
    oracle=f"""
    SELECT make_timestamp((epoch_us(ts) // 600000000) * 600000000) AS window_start,
           make_timestamp((epoch_us(ts) // 600000000) * 600000000 + 600000000) AS window_end,
           event_type,
           {_AGGS_SQL}
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute tumbling windows per event type."""
    return tumbling(load_table(spark, sf_dir, "events"), "10 minutes", "event_type")


@register_local(
    "events_sliding",
    oracle=f"""
    SELECT window_start,
           window_start + INTERVAL 10 MINUTE AS window_end,
           {_AGGS_SQL}
    FROM (
      SELECT make_timestamp((epoch_us(ts) // 300000000) * 300000000) AS window_start, value
      FROM events
      UNION ALL
      SELECT make_timestamp((epoch_us(ts) // 300000000) * 300000000 - 300000000), value
      FROM events
    )
    GROUP BY 1, 2
    """,
)
def events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5 — each event in exactly 2 windows
    (the oracle materializes that expansion explicitly)."""
    return sliding(load_table(spark, sf_dir, "events"), "10 minutes", "5 minutes")


@register(
    "events_sessions",
    oracle=f"""
    WITH breaks AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), tagged AS (
      SELECT user_id, ts, value,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM breaks
    )
    SELECT min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           user_id,
           {_AGGS_SQL}
    FROM tagged
    GROUP BY user_id, sid
    """,
)
def events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap sessionization per user; end = last event + gap."""
    return sessionized(load_table(spark, sf_dir, "events"), "30 minutes", "user_id")


@register(
    "events_json_stats",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def events_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction from the props payload (string column →
    typed field), aggregated per event type. get_json_object stays
    JVM-side (Jackson) — no Python in the path."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(k).alias("sum_k"),
        F.max(k).alias("max_k"),
    )


@register_local(
    "user_activity",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           count(DISTINCT event_type) AS n_types,
           min(ts) AS first_seen,
           max(ts) AS last_seen,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_value
    FROM events
    GROUP BY user_id
    """,
)
def user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user profile rollup (count-distinct + time bounds + exact sum)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
        F.min("ts").alias("first_seen"),
        F.max("ts").alias("last_seen"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
    )


@register(
    "rollup_read_parity",
    oracle=f"""
    SELECT make_timestamp((epoch_us(ts) // 1800000000) * 1800000000) AS window_start,
           make_timestamp((epoch_us(ts) // 1800000000) * 1800000000 + 1800000000) AS window_end,
           event_type,
           {_AGGS_SQL}
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def rollup_read_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full incremental-rollup-store lifecycle, driver-verified
    (SURVEY.md §2.2b: continuous-aggregate / hypertable rollup).

    Splits ``events`` into three deterministic batches
    (``event_id % 3``), upserts each as 10-minute mergeable partials
    into a FRESH store (a txlog table; fresh so retries never trip the
    retired-batch-id guard), compacts the three batches into one
    target with one conflict-checked rewrite commit, then reads the
    store's snapshot coarsened to 30-minute windows. The oracle is a
    direct 30-minute tumbling aggregate over ALL events — parity
    proves the whole chain (batch split → partial agg → txn-idempotent
    upsert → compaction commit → read-time coarsening) loses and
    double-counts nothing, bit-exactly. History is never re-scanned:
    each upsert aggregates only its own batch; the read merges
    partials (decimal(38,4) additive) and derives avg with the same
    single division the batch window queries use."""
    import tempfile

    from ..operators.timeseries import (
        compact_rollup,
        read_rollup,
        upsert_rollup,
    )

    events = load_table(spark, sf_dir, "events")
    store = tempfile.mkdtemp(prefix="rollup_parity_")
    for i in range(3):
        batch = events.filter(F.col("event_id") % 3 == i)
        upsert_rollup(batch, store, "10 minutes", ("event_type",), batch_id=str(i))
    compact_rollup(spark, store, ("event_type",))
    return read_rollup(spark, store, ("event_type",), coarsen="30 minutes")
