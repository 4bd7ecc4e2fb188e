"""Sinks (reference operators O7/O10/O14, SURVEY.md §2.1).

The reference materializes JSON-lines intermediates (mr-<m>-<r>,
mapreduce/mapreduce.go:66-84) and text outputs (mr-out-<r> :108-123,
mr-final.txt master/master.go:300-311). Spark manages its own shuffle,
so the only user-visible sinks we provide are *result* writers:

- JSON-lines        — format parity with the reference's intermediates.
- partitioned parquet — THE 100 TB sink: downstream scans prune on the
  partition columns (verify via PartitionFilters in explain).
- bucketed table    — pre-shuffled storage: later joins/aggs on the
  bucket key skip their exchange entirely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hadoop_fs(spark, path: str):
    """(FileSystem, Path) for ``path`` via the JVM gateway — works for
    any scheme the session can reach (local, HDFS, s3a), unlike
    os.path/open. Single-sourced here for every sink that needs
    existence checks, renames, or driver-side small-file writes."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def write_json_lines(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """One JSON object per line (the reference's intermediate format)."""
    df.write.mode(mode).json(path)


def write_partitioned_parquet(
    df: DataFrame, path: str, *partition_cols: str, mode: str = "overwrite"
) -> None:
    """Hive-style directory partitioning; keep partition cardinality
    bounded (≤ ~10k dirs) and files ≥ ~100 MB at scale."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def overwrite_partitions(
    df: DataFrame, path: str, *partition_cols: str
) -> None:
    """Idempotent partition-level backfill: rewrite ONLY the partitions
    present in ``df``, leaving sibling partitions untouched.

    ``partitionOverwriteMode=dynamic`` scoped to this one write (the
    static default would wipe the whole dataset root). This is the
    re-run/backfill primitive for partitioned pipeline outputs: a day's
    recompute replaces that day's directory atomically-per-partition
    and can be re-executed safely — the poor man's transactional merge
    when no table format (Delta/Iceberg) is available."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def compact_parquet(
    spark,
    src_path: str,
    dst_path: str,
    target_file_mb: int = 256,
) -> int:
    """Rewrite a parquet dataset into ~``target_file_mb`` files; returns
    the output file count.

    The 100 TB housekeeping operator: streaming/incremental writers leave
    thousands of small files per partition, and scan cost at scale is
    dominated by file-open/footer overhead, not bytes. Sizing comes from
    the source's actual on-disk bytes (driver-side file listing — a
    metadata operation, not data movement); the rewrite itself is one
    round-robin repartition, no key shuffle."""
    import math

    fs, p = hadoop_fs(spark, src_path)
    total_bytes = fs.getContentSummary(p).getLength()
    n_files = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))

    spark.read.parquet(src_path).repartition(n_files).write.mode(
        "overwrite"
    ).parquet(dst_path)
    return n_files


def write_bucketed_table(
    df: DataFrame,
    table: str,
    n_buckets: int,
    *bucket_cols: str,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Bucketed + sorted table: co-locates rows by key so a later
    join/agg on ``bucket_cols`` reads shuffle-free (pinned by
    tests/test_sinks_and_stream_wc.py on the physical plan). ``path``
    makes it external (data at ``path``, metadata in the catalog)."""
    w = (
        df.write.mode(mode)
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def write_training_shards(
    df: DataFrame,
    path: str,
    rows_per_shard: int,
    shard_key: str | None = None,
    compression: str = "zstd",
) -> DataFrame:
    """Export a training set as bounded-size parquet shards + manifest.

    Trainers stream shards and need two guarantees: no shard exceeds
    the loader's memory budget, and the shard list is explicit (a
    manifest, not a directory listing race). ``maxRecordsPerFile``
    bounds rows per file inside each write task; ``shard_key`` (e.g. a
    doc hash) optionally repartitions first so shard membership is
    content-determined rather than scan-order-determined — re-exports
    after upstream re-partitioning then produce the same grouping.

    Returns the manifest as a DataFrame[(shard, n_rows)] and writes it
    next to the data at ``<path>/_manifest.json`` — a single REAL
    JSON-lines file (written driver-side through the Hadoop FS API, so
    it lands correctly on hdfs://s3a:// too; one row per shard, so it
    is bounded by the shard count, not the data). It is written AFTER
    the data so its presence marks a complete export — the poor man's
    commit protocol, same role as _SUCCESS but carrying per-shard row
    counts for loader-side validation. The per-shard counts cost one
    metadata-cheap re-scan (count(*) by input_file_name projects zero
    data columns, so parquet answers it from footer row counts).
    """
    import json

    spark = df.sparkSession
    writer = df
    if shard_key is not None:
        n = max(1, df.count() // rows_per_shard)
        writer = df.repartition(n, shard_key)
    (
        writer.write.mode("overwrite")
        .option("maxRecordsPerFile", rows_per_shard)
        # zstd default: training shards are write-once/read-many across
        # epochs, where zstd's ~25-30% size win over snappy directly
        # cuts storage and loader I/O at 100 TB
        .option("compression", compression)
        .parquet(path)
    )
    manifest = (
        spark.read.parquet(path)
        .groupBy(
            F.element_at(F.split(F.input_file_name(), "/"), -1).alias("shard")
        )
        .agg(F.count("*").alias("n_rows"))
    )
    lines = "".join(
        json.dumps({"shard": r["shard"], "n_rows": r["n_rows"]}) + "\n"
        for r in sorted(manifest.collect(), key=lambda r: r["shard"])
    )
    fs, _ = hadoop_fs(spark, path)
    mpath = spark._jvm.org.apache.hadoop.fs.Path(path, "_manifest.json")
    out = fs.create(mpath, True)
    try:
        out.write(bytearray(lines, "utf-8"))
    finally:
        out.close()
    return manifest
