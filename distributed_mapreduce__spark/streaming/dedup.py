"""Streaming deduplication (E1/E2 × Structured Streaming).

An ingestion pipeline dedups *as data arrives*, not in a nightly batch.
Two forms, both pure built-in operators:

- ``stream_exact_dedup`` — ``dropDuplicates`` on a content hash:
  unbounded state (every hash ever seen), exact forever. Right when
  the key space is bounded or the run is finite (a backfill).
- ``stream_dedup_within_watermark`` — ``dropDuplicatesWithinWatermark``
  on (key) with an event-time watermark: state is evicted once the
  watermark passes, so memory is bounded by the dedup horizon ×
  arrival rate — the 100 TB/day-safe form. Duplicates separated by
  more than the horizon are NOT caught (that's the contract: dedup
  within the replay/retry window, where real duplicates live).

The content hash is md5 (32-byte state keys instead of documents —
same shuffle-size reasoning as batch exact dedup, operators/dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """First arrival of each distinct (hashed) text wins; later copies
    are dropped. State = one 32-char key per distinct text, forever."""
    return docs.withColumn("text_hash", F.md5(F.col(text_col))).dropDuplicates(
        ["text_hash"]
    )


def stream_dedup_within_watermark(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    horizon: str = "1 hour",
) -> DataFrame:
    """Drop rows whose key was already seen within the watermark
    horizon. State for a key is evicted once the watermark passes its
    event time + horizon — bounded memory at any input scale."""
    return events.withWatermark(ts_col, horizon).dropDuplicatesWithinWatermark(
        key_cols
    )


def intra_batch_dedup(
    batch: DataFrame,
    est_threshold: float = 0.5,
    with_index: bool = False,
    verify: str = "estimate",
):
    """Deduplicate WITHIN one batch: min-doc_id survivor per exact
    (normalized-text md5) key, then LSH-banded near-dup drop of the
    larger doc_id per ≥-threshold pair. Shared by the foreachBatch
    stream sink (:func:`stream_incremental_dedup`) and the txlog
    change-feed pipe (:func:`dedup_pipe_available_now`).

    ``verify`` decides how a banded candidate pair is scored against
    ``est_threshold``:

    - ``'estimate'`` (default) — the 16-seed MinHash agreement
      fraction, the same estimator the history check uses, so one
      threshold governs both. Zero extra passes; with 16 seeds the
      estimate is ±1/16-granular, so borderline pairs can land on
      either side (the precision/recall gate in
      tests/test_streaming_dedup.py measures it on planted
      paraphrases).
    - ``'exact'`` — exact Jaccard over the candidates' hashed shingle
      sets (operators/dedup.exact_jaccard): the batch's text is in
      hand anyway, so the verify join costs one candidate-restricted
      pass over 8-byte shingle hashes and the intra-batch drop becomes
      estimator-noise-free. The HISTORY check stays estimator-based
      either way — historical text is exactly what the ~160 B/doc
      index exists to not keep.

    Measured at sf0.1 (round 12, both modes priced per round in the
    bench artifact as dedup_pipe_2batch_read / _exact): the exact pass
    costs ~1.7x the estimate pipe (the extra shingle explode over the
    batch text), and the estimator's net error at threshold 0.5 is an
    OVER-drop of ~1.3% of survivors (borderline near-pairs rounding
    up — a conservative direction for corpus dedup). 'estimate' stays
    the default because an extra 70% on the hot path buys only those
    borderline docs back; flip per pipe with ``verify='exact'`` when
    recall of near-threshold documents matters more than throughput.

    ``with_index=True`` returns ``(clean, clean_idx)`` where
    ``clean_idx`` is the survivors' :func:`dedup_index` rows,
    lineage-cut with ``localCheckpoint`` — minhashing (shingle explode
    × 16 seeds) is the batch's expensive pass, and callers that need
    the signatures again (history check, index append) must reuse this
    one instead of recomputing it per consumer."""
    from ..operators.dedup import (
        N_SEEDS,
        dedup_index,
        doc_shingles,
        exact_jaccard,
        hashed_shingles,
        lsh_bands,
        lsh_candidate_pairs,
    )

    if verify not in ("estimate", "exact"):
        raise ValueError(f"verify must be estimate|exact, got {verify!r}")
    # NOT widened (round-16, measured): a micro-batch arrives as
    # one-or-few scan partitions and the tick's stages run 1 task —
    # but hash-spreading the batch on doc_id made the 2-tick pipe
    # SLOWER (12.5 -> 15.5 s at sf0.1): per-tick cost is dominated by
    # ~40 tiny AQE stage-jobs whose scheduling overhead a 32-way
    # widen multiplies, not by the serial minhash compute. At real
    # scale a batch has many splits and arrives wide on its own.
    sig_cols = [f"mh{s}" for s in range(N_SEEDS)]
    idx = dedup_index(batch)
    # exact: min doc_id per normalized-text hash survives
    keep_exact = idx.groupBy("text_md5").agg(F.min("doc_id").alias("doc_id"))
    idx = idx.join(keep_exact.select("doc_id"), "doc_id")
    if with_index:
        # one materialization serves the near-dup pass AND every
        # downstream signature consumer (~160 B/doc). Lazy (round 16):
        # it materializes inside clean_idx's own checkpoint job below
        # instead of as a separate driver barrier — same sharing, one
        # fewer blocking job per tick.
        idx = idx.localCheckpoint(eager=False)
    # near: banded candidates (a < b), score ≥ t drops the LARGER id
    pairs = lsh_candidate_pairs(lsh_bands(idx.filter(F.col("mh0").isNotNull())))
    if verify == "exact":
        survivors_text = batch.join(idx.select("doc_id"), "doc_id")
        hs = hashed_shingles(doc_shingles(survivors_text, distinct=False))
        near_drop = (
            exact_jaccard(hs, pairs=pairs, key="hm")
            .filter(F.col("jaccard") >= est_threshold)
            .select(F.col("doc_b").alias("doc_id"))
            .distinct()
        )
    else:
        sa = idx.select(F.col("doc_id").alias("doc_a"), *sig_cols)
        sb = idx.select(
            F.col("doc_id").alias("doc_b"),
            *[F.col(c).alias(f"o_{c}") for c in sig_cols],
        )
        est = sum(
            (F.col(c) == F.col(f"o_{c}")).cast("int") for c in sig_cols
        ) / F.lit(float(N_SEEDS))
        near_drop = (
            pairs.join(sa, "doc_a").join(sb, "doc_b")
            .filter(est >= est_threshold)
            .select(F.col("doc_b").alias("doc_id"))
            .distinct()
        )
    if not with_index:
        return batch.join(idx.select("doc_id"), "doc_id").join(
            near_drop, "doc_id", "left_anti"
        )
    # round 16 (tick phase audit): clean_idx's near-drop chain (band
    # explode -> candidate self-join -> signature verify) was evaluated
    # TWICE per tick — once under the survivors checkpoint (22 jobs)
    # and again by the index-append write (13 jobs). Checkpoint the
    # per-doc SURVIVOR INDEX itself (~160 B/doc) and derive `clean`
    # from it: the chain now runs exactly once, and both downstream
    # writes join two materialized tables. Same rows either way —
    # clean == batch restricted to exact-survivors minus near-dropped
    # == batch semi-joined on clean_idx's doc_ids.
    clean_idx = idx.join(near_drop, "doc_id", "left_anti").localCheckpoint()
    clean = batch.join(clean_idx.select("doc_id"), "doc_id")
    return clean, clean_idx


def dedup_pipe_available_now(
    spark,
    src: str,
    dst: str,
    *,
    checkpoint: str,
    index: str,
    est_threshold: float = 0.5,
    name: str = "dedup-pipe",
    verify: str = "estimate",
) -> dict:
    """Exactly-once incremental corpus dedup over the txlog change
    feed — the storage family composed with the dedup family: drain
    each source commit's NEW documents, dedup them within the batch
    (:func:`intra_batch_dedup`) and against every previously-kept
    document (:func:`~..operators.dedup.incremental_dedup` on the
    txlog index table at ``index`` — ~160 B/doc signatures, the corpus
    text never re-reads), then append the survivors to the clean
    txlog table at ``dst`` and their signature rows to ``index``,
    BOTH under the same per-source-version txn id.

    The crash calculus is the pipe's, sharpened by an ordering rule:
    dst commits BEFORE index, so a replay that re-derives the batch
    against a pre-batch index produces the identical survivors (dst
    txn dedups, index write lands); and a replay whose index ALREADY
    contains the batch recomputes everything as self-duplicates —
    which doesn't matter, because the already-committed txn ids win
    over the recomputation on both tables. First-wins semantics are
    deterministic forever: one source version = one idempotent unit.

    100 TB shape: per tick, work is O(new docs + matched candidates);
    history participates only through the band-bucket index join.
    Returns ``{"cursor", "versions", "writes"}``."""
    from ..operators.dedup import incremental_dedup
    from ..sources.txlog import tx_changes_by_version, tx_read, tx_write
    from .table_stream import load_cursor, save_cursor

    cur = load_cursor(spark, checkpoint)
    n_versions = n_writes = 0
    last = cur
    for v, batch in tx_changes_by_version(spark, src, cur):
        if batch is not None:
            # ONE minhash pass per batch: intra-batch dedup, the
            # history check, and the index append all reuse clean_idx
            clean, clean_idx = intra_batch_dedup(
                batch, est_threshold, with_index=True, verify=verify
            )
            try:
                idx_df = tx_read(spark, index)
            except FileNotFoundError:
                idx_df = clean_idx.limit(0)
            tagged, _ = incremental_dedup(
                clean, idx_df, est_threshold, new_idx=clean_idx
            )
            survivors = tagged.filter(
                F.col("drop_reason").isNull()
            ).drop("drop_reason")
            # lineage cut: the index append below must not rescan the
            # index table mid-write (same reasoning as the stream sink)
            survivors = survivors.localCheckpoint()
            tx_write(survivors, dst, txn=f"{name}:v{v}")
            tx_write(
                clean_idx.join(survivors.select("doc_id"), "doc_id"),
                index,
                txn=f"{name}:v{v}",
            )
            n_writes += 2
        save_cursor(spark, checkpoint, v)
        n_versions += 1
        last = v
    return {"cursor": last, "versions": n_versions, "writes": n_writes}


def stream_incremental_dedup(
    stream_docs: DataFrame,
    index_path: str,
    survivors_path: str,
    checkpoint_path: str,
    est_threshold: float = 0.5,
):
    """The production curation shape: a ``foreachBatch`` pipeline that
    dedups an ARRIVING document stream against the persisted signature
    index (operators/dedup.py:dedup_index) and appends survivors.

    Per micro-batch:

    1. intra-batch dedup — min-doc_id survivor per exact key, then
       LSH-banded near-dup drop within the batch (same est-Jaccard
       MinHash estimator as the history check, so one threshold
       governs both);
    2. history dedup — :func:`...operators.dedup.incremental_dedup`
       against the index read from ``index_path`` (an equi-join on the
       32-byte exact key + a band-bucket candidate join; historical
       TEXT is never read, only the ~160 B/doc index);
    3. append survivors and their index rows, each partitioned by
       ``_batch_id`` with DYNAMIC partition overwrite — so a batch
       REPLACES its own partition on retry instead of duplicating it.
       That makes the sink idempotent per batch id, which is exactly
       the guarantee Structured Streaming's checkpoint needs for
       effectively-exactly-once output (the engine re-runs a failed
       batch with the SAME batch id).

    Returns the started StreamingQuery; drive with
    ``processAllAvailable()`` in tests. The unbounded state lives in
    the parquet index, NOT in streaming state — memory per batch is
    O(batch + matched candidates), so the stream can run forever.
    """
    from pyspark.sql import functions as F

    from ..operators.dedup import incremental_dedup

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        # ONE minhash pass per batch, reused by the intra-batch pass,
        # the history check, and the index append (see intra_batch_dedup)
        clean, clean_idx = intra_batch_dedup(
            batch_df, est_threshold, with_index=True
        )
        from ..sources.sinks import hadoop_fs

        fs, hpath = hadoop_fs(spark, index_path)
        if fs.exists(hpath):
            index = spark.read.parquet(index_path).drop("_batch_id")
        else:
            index = clean_idx.limit(0)
        tagged, _ = incremental_dedup(
            clean, index, est_threshold, new_idx=clean_idx
        )
        survivors = (
            tagged.filter(F.col("drop_reason").isNull())
            .drop("drop_reason")
            .withColumn("_batch_id", F.lit(batch_id))
            .localCheckpoint()  # cut lineage: the write must not rescan index_path
        )
        (
            survivors.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(survivors_path)
        )
        (
            clean_idx.join(survivors.select("doc_id"), "doc_id")
            .withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(index_path)
        )

    return (
        stream_docs.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
        .start()
    )


def tx_dedup_table(
    spark,
    path: str,
    text_col: str = "text",
    est_threshold: float = 0.5,
    verify: str = "estimate",
    txn: "str | None" = None,
    cdf: "bool | None" = None,
):
    """Physically NEAR-dedup a transactional corpus table IN PLACE:
    run the pipe's exact decision procedure (:func:`intra_batch_dedup`
    — min-identity survivor per normalized-text key, then LSH-banded
    near-dup drop per >=-threshold pair) over the CURRENT snapshot,
    and erase the losers by (file, row-ordinal) coordinate as a
    KB-scale deletion vector. ZERO data files are rewritten — the
    100 TB corpus-maintenance shape: re-crawls and paraphrases
    disappear behind position sidecars instead of a full-table
    rewrite, and ``tx_vacuum`` after ``tx_apply_deletes`` gives
    physical erasure when required.

    Row identity is (file's ADD VERSION, file, row ordinal),
    zero-padded so lexicographic order means INGEST order first, then
    physical order — so this dedups tables with NO id column, keeps
    exactly one copy of bit-identical rows (the case key-addressed
    deletes cannot express), and the survivor is DETERMINISTICALLY
    the earliest-ingested copy. (Round 14: plain (file, pos) identity
    made the cross-commit winner depend on which UUID file NAME
    sorted first — a per-run coin flip the suite eventually caught;
    prefixing the commit version restores first-seen-wins, the pipe's
    own rule.) Returns the committed version, or ``None`` when the
    table was already clean (nothing committed). Deterministic on a
    given snapshot; ``verify='exact'`` makes the near-dup drop
    estimator-noise-free (same trade as the pipe — see
    :func:`intra_batch_dedup`)."""
    from ..sources.tables import local_frame
    from ..sources.txlog import (
        _replay,
        tx_delete_positions,
        tx_scan_with_pos,
    )

    snap = _replay(spark, path)
    vmap = local_frame(spark, snap.eps.items(), "_file string, __v long")
    pos = tx_scan_with_pos(spark, path)
    docs = pos.join(F.broadcast(vmap), "_file").select(
        F.concat_ws(
            "#",
            F.format_string("%019d", F.col("__v")),
            F.col("_file"),
            F.format_string("%019d", F.col("_pos")),
        ).alias("doc_id"),
        F.col(text_col).alias("text"),
    )
    clean = intra_batch_dedup(docs, est_threshold, verify=verify)
    losers = docs.join(clean.select("doc_id"), "doc_id", "left_anti")
    lose_pos = losers.select(
        F.split("doc_id", "#")[1].alias("_file"),
        F.substring_index("doc_id", "#", -1).cast("long").alias("_pos"),
    )
    if not lose_pos.limit(1).count():
        return None
    return tx_delete_positions(lose_pos, path, txn=txn, cdf=cdf)
