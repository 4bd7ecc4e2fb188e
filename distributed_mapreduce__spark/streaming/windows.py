"""Structured Streaming variants of the E7 window operators.

Same operator shapes as ``operators/timeseries.py`` with a watermark for
late-data bounds and state eviction. Batch/stream parity is the test
contract (tests/test_streaming.py): a tumbling aggregation in complete
mode over a replayed file equals the batch aggregation; append-mode
results are the closed-window prefix.

Scale: streaming state lives per (window, key) in the state store; the
watermark bounds state size (windows older than watermark are evicted).
At production scale the file source below becomes Kafka — the operator
definitions don't change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.timeseries import sessionized, sliding, tumbling
from ..sources.tables import (
    EVENTS_RAW_SCHEMA,
    EVENTS_TS_NTZ_SCHEMA,
    EVENTS_TS_SCHEMA,
    events_ts_type,
)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-replay streaming source over the events fixture, with the
    same ts normalization as the batch reader: footer-sniffed schema
    (NANOS → explicit BIGINT read + ns→µs truncation; NTZ → TIMESTAMP_NTZ
    read + cast; instant → TIMESTAMP read), no session-wide conf — see
    sources/tables.py."""
    import os

    # The file source wants a directory; select just events.parquet out of
    # the fixture dir with a glob (works the same when events.parquet is
    # itself a directory of part-files).
    unit, is_instant = events_ts_type(os.path.join(sf_dir, "events.parquet"))
    if unit == "ns":
        schema = EVENTS_RAW_SCHEMA
    elif is_instant:
        schema = EVENTS_TS_SCHEMA
    else:
        schema = EVENTS_TS_NTZ_SCHEMA
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if unit == "ns":
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def stream_tumbling(
    events: DataFrame, duration: str = "10 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    return tumbling(events.withWatermark("ts", watermark), duration, "event_type")


def stream_sliding(
    events: DataFrame,
    duration: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    return sliding(events.withWatermark("ts", watermark), duration, slide)


def stream_sessionized(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    return sessionized(events.withWatermark("ts", watermark), gap, "user_id")


def run_to_memory_sink(
    df: DataFrame, query_name: str, output_mode: str = "append"
) -> None:
    """Drive a streaming aggregation synchronously to a memory sink.

    ``processAllAvailable`` drains the file source; the no-data final
    micro-batch (on by default) advances the watermark so closed windows
    flush in append mode. Results land in the temp view ``query_name``.
    """
    q = (
        df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def stream_rollup(
    events: DataFrame,
    store_path: str,
    checkpoint_path: str,
    duration: str,
    keys: tuple[str, ...] = (),
    writer: str = "s",
):
    """Continuously fold an event stream into the incremental rollup
    store (operators/timeseries.upsert_rollup, a txlog table) via
    ``foreachBatch``: batch N's window partials commit under txn
    ``rollup:<writer><N>``, so the engine's retry of a failed batch
    (same batch id, per the checkpoint contract) is a no-op instead of
    a double count — effectively-exactly-once aggregates over an
    unbounded stream, with the state in storage, not memory (the
    streaming-incremental-dedup posture).

    **Writer contract (one stream per prefix):** batch numbering comes
    from each stream's OWN checkpoint, so two concurrent streams
    sharing one store and one prefix would both fold ``s0``, ``s1``,
    ... — the second stream's batches would be silently dropped as
    replays. Each stream therefore CLAIMS its ``writer`` prefix as the
    store property ``rollup.writer.<writer>`` (one txn-guarded commit
    recording its checkpoint path) before starting; a second stream
    with a different checkpoint asking for a claimed prefix raises
    loudly instead of losing batches. A restart of
    the SAME stream (same checkpoint) re-enters its claim and resumes
    idempotently. Fan-in from multiple streams is supported by giving
    each a distinct ``writer`` — ``read_rollup`` merges partials
    additively regardless of which writer produced them.

    Unlike the watermarked in-memory window aggregations above, this
    handles arbitrarily late data for free: a late event simply lands
    in its window's partial within whatever batch it arrives in, and
    ``read_rollup`` merges partials additively — no watermark discards,
    no state eviction deadline. The trade is that readers see
    batch-granularity freshness and pay the partial-merge at read
    time until ``compact_rollup`` folds history.

    Returns the started StreamingQuery; drive with
    ``processAllAvailable()`` in tests.
    """
    from ..operators.timeseries import claim_rollup_writer, upsert_rollup

    claim_rollup_writer(
        events.sparkSession, store_path, writer, checkpoint_path
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        upsert_rollup(
            batch_df, store_path, duration, keys, batch_id=f"{writer}{batch_id}"
        )

    return (
        events.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_path)
        .start()
    )
