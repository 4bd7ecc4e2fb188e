"""Streaming similarity: score ARRIVING vectors against a persisted
ANN index (E3 × Structured Streaming — the retrieval sibling of
``streaming/dedup.stream_incremental_dedup``).

The production shape: embeddings for new documents arrive continuously
(a crawler, an ingest queue); each must be matched against a large
static corpus — "what do we already have that looks like this" — for
near-dup triage, retrieval-augmented labeling, or cluster assignment.
Rebucketing the CORPUS per micro-batch would be a full corpus scan
every few seconds; the index is built once and only the batch pays
per-arrival cost.

Scale shape:

- The index is a (vec_id, bucket, embedding, vnorm) txlog table
  (sources/txlog.py) — built in one corpus pass, upserted by
  ``tx_merge``, read by snapshot. Per batch, the work is: bucket the batch (planes
  are a broadcast constant), expand ids-only probes (two longs per
  row), equi-join on ``bucket`` against the index, score candidates
  exactly, window top-k per query. Candidate volume ≈ batch_size ×
  bucket occupancy — independent of total corpus size at the log-N
  plane sizing (operators/similarity.py:lsh_topk SIZING RULE).
- No forced broadcasts: the bucket match is an unhinted equi-join
  (the round-6 ANN discipline); AQE sees real micro-batch sizes.
- Output partitioned by ``_batch_id`` with dynamic partition
  overwrite: a retried batch REPLACES its own partition — idempotent
  per batch id, which is the sink guarantee Structured Streaming's
  checkpoint replay needs for effectively-exactly-once output.
- Hyperplanes are md5-derived pure functions of (n_planes, dim)
  (operators/similarity.py:hyperplanes), so the index only persists
  those two ints (a sibling ``._ann_meta`` parquet, written once per
  build); batch and corpus bucketing agree by construction across
  restarts and even engines.

Swap notes for a real deployment: the arrival source here is any
Structured Streaming reader (files in tests; Kafka via
``spark.readStream.format("kafka")`` where a broker exists); a growing
corpus folds in through :func:`upsert_ann_index`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.tables import local_frame


def build_ann_index(
    corpus: DataFrame,
    index_path: str,
    n_planes: int | None = None,
    dim: int = 64,
    vec_col: str = "embedding",
) -> int:
    """One corpus pass → persisted ANN index at ``index_path``: a
    (vec_id, bucket, embedding, vnorm) txlog table written by one
    overwrite commit, plus a 1-row sidecar parquet at
    ``index_path + "._ann_meta"`` pinning (n_planes, dim) — a sibling,
    outside the table directory. Returns the resolved n_planes (log-N
    sized unless pinned by the caller)."""
    from ..operators.similarity import (
        hyperplanes,
        lsh_buckets,
        resolve_n_planes,
        with_norm,
    )
    from ..sources.txlog import tx_write

    spark = corpus.sparkSession
    if n_planes is None:
        n_planes = resolve_n_planes(corpus.count())
    planes = hyperplanes(spark, n_planes=n_planes, dim=dim)
    normed = with_norm(corpus, vec_col)
    indexed = normed.join(
        lsh_buckets(corpus, planes, vec_col=vec_col), "vec_id"
    ).select("vec_id", "bucket", F.col(vec_col).alias("embedding"), "vnorm")
    tx_write(indexed, index_path, mode="overwrite")
    local_frame(
        spark, [(n_planes, dim)], "n_planes int, dim int"
    ).write.mode("overwrite").parquet(_meta_path(index_path))
    return n_planes


def _meta_path(index_path: str) -> str:
    return index_path.rstrip("/") + "._ann_meta"


def load_ann_meta(spark, index_path: str) -> tuple[int, int]:
    """(n_planes, dim) the index was built with."""
    r = spark.read.parquet(_meta_path(index_path)).first()
    return int(r.n_planes), int(r.dim)


def topk_against_index(
    batch: DataFrame,
    index: DataFrame,
    n_planes: int,
    dim: int,
    k: int = 5,
    probe_radius: int = 1,
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, score) top-k for one (micro-)batch of
    query vectors against a loaded index — the batch-side core, also
    usable standalone for incremental backfills.

    Probe masks follow ``lsh_topk``: radius 0 = own bucket, 1 adds
    single bit-flips, 2 adds two-flip pairs. Ids-only expansion,
    unhinted bucket equi-join, vectors re-attached by id after the
    match."""
    from ..operators.relational import top_k_per_group
    from ..operators.similarity import (
        dot_fold,
        expand_probes,
        hyperplanes,
        lsh_buckets,
        probe_masks,
        with_norm,
    )

    spark = batch.sparkSession
    planes = hyperplanes(spark, n_planes=n_planes, dim=dim)
    q_buckets = lsh_buckets(batch, planes, vec_col=vec_col)
    probes = expand_probes(q_buckets, probe_masks(n_planes, probe_radius))
    cands = (
        index.select("vec_id", "bucket")
        .join(probes, "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    qv = with_norm(batch, vec_col).select(
        F.col("vec_id").alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.col("vnorm").alias("q_norm"),
    )
    cv = index.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("n_vec"),
        F.col("vnorm").alias("n_norm"),
    )
    scored = (
        cands.join(qv, "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.try_divide(
                dot_fold("q_vec", "n_vec"),
                F.col("q_norm") * F.col("n_norm"),
            ).alias("score"),
        )
    )
    return top_k_per_group(
        scored,
        ["query_id"],
        [F.col("score").desc(), F.col("neighbor_id")],
        k,
    ).select("query_id", "neighbor_id", "score")


def stream_topk_against_index(
    stream_vecs: DataFrame,
    index_path: str,
    matches_path: str,
    checkpoint_path: str,
    k: int = 5,
    probe_radius: int = 1,
    vec_col: str = "embedding",
):
    """Start the stream: per micro-batch, top-k each arriving vector
    against the persisted index and append matches partitioned by
    ``_batch_id`` (dynamic overwrite → idempotent on batch replay).

    Returns the started StreamingQuery; drive with
    ``processAllAvailable()`` in tests.

    The index is re-read per batch as a snapshot (``tx_read``), so
    vectors merged in by :func:`upsert_ann_index` become visible at the
    next batch, and a batch planned before an upsert commits keeps
    reading the files of its own snapshot — maintenance needs no
    coordination with the stream."""
    def _process(batch_df: DataFrame, batch_id: int) -> None:
        from ..sources.sinks import overwrite_partitions
        from ..sources.txlog import tx_read

        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        # meta is re-read per batch ON PURPOSE: a rebuild
        # (build_ann_index at a grown corpus) changes n_planes, and a
        # batch bucketed under the old plane count would equi-join
        # garbage against the new buckets — silent wrong results. The
        # cost is one tiny 1-row read per batch; correctness under
        # rebuilds is worth it.
        n_planes, dim = load_ann_meta(spark, index_path)
        index = tx_read(spark, index_path)
        out = topk_against_index(
            batch_df,
            index,
            n_planes,
            dim,
            k=k,
            probe_radius=probe_radius,
            vec_col=vec_col,
        ).withColumn("_batch_id", F.lit(batch_id))
        overwrite_partitions(out, matches_path, "_batch_id")

    return (
        stream_vecs.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
        .start()
    )


def upsert_ann_index(
    new_vecs: DataFrame,
    index_path: str,
    vec_col: str = "embedding",
) -> None:
    """Index maintenance: MERGE new/updated vectors into the persisted
    ANN index — re-bucketed under the index's OWN pinned
    (n_planes, dim) so old and new rows stay join-compatible (the
    log-N sizing rule is applied at build time, not here; rebuild via
    :func:`build_ann_index` when the corpus outgrows its plane count).

    One ``tx_merge`` on ``vec_id`` (``new_vecs`` holds at most one row
    per id): an updated vector replaces its old row (stale buckets
    cannot linger), new ids append, and only the files whose id range
    can hold a merged id are rewritten. The merge records no change
    feed (nothing reads the index's). The composition a growing corpus
    needs alongside :func:`stream_topk_against_index`: score arrivals
    against the index, then fold the arrivals in — safe while the
    stream runs, whose reads are snapshots."""
    from ..operators.similarity import hyperplanes, lsh_buckets, with_norm
    from ..sources.txlog import tx_merge

    spark = new_vecs.sparkSession
    n_planes, dim = load_ann_meta(spark, index_path)
    planes = hyperplanes(spark, n_planes=n_planes, dim=dim)
    rows = (
        with_norm(new_vecs, vec_col)
        .join(lsh_buckets(new_vecs, planes, vec_col=vec_col), "vec_id")
        .select("vec_id", "bucket", F.col(vec_col).alias("embedding"), "vnorm")
    )
    tx_merge(rows, index_path, "vec_id", cdf=False)
