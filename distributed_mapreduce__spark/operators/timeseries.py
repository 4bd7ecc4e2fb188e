"""Event-time window operators (SURVEY.md §2.2 E7) — batch forms.

The reference has no time semantics at all (§2.2 gap list); these are
north-star extensions built on Spark's native event-time windowing so the
same operator definitions serve batch (here) and Structured Streaming
(``streaming/windows.py`` adds watermarks to these exact shapes).

Scale: windowed groupBy shuffles on (window, keys) — the window column is
derived, so partial aggregation still collapses each input partition to
one row per (window, key) before the exchange. Session windows shuffle on
the user key and merge per-key sorted runs; skewed users are the 100 TB
risk (bound session length or salt by day for pathological keys).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _agg_exprs() -> list[Column]:
    """Shared aggregate set for the window queries: count + exact sum +
    engine-identical double average (see operators/relational.py)."""
    value_dec = F.col("value").cast("decimal(18,4)")
    return [
        F.count("*").alias("n_events"),
        F.sum(value_dec).cast("double").alias("sum_value"),
        (F.sum(value_dec).cast("double") / F.count("*")).alias("avg_value"),
    ]


def tumbling(df: DataFrame, duration: str, *keys: str) -> DataFrame:
    """Fixed, non-overlapping event-time buckets (epoch-aligned)."""
    return (
        df.groupBy(F.window("ts", duration).alias("win"), *keys)
        .agg(*_agg_exprs())
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *keys,
            "n_events",
            "sum_value",
            "avg_value",
        )
    )


def sliding(df: DataFrame, duration: str, slide: str, *keys: str) -> DataFrame:
    """Overlapping buckets: each event lands in duration/slide windows."""
    return (
        df.groupBy(F.window("ts", duration, slide).alias("win"), *keys)
        .agg(*_agg_exprs())
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *keys,
            "n_events",
            "sum_value",
            "avg_value",
        )
    )


def sessionized(df: DataFrame, gap: str, *keys: str) -> DataFrame:
    """Session windows: runs of events per key separated by < gap;
    window end = last event + gap (Spark ``session_window`` semantics)."""
    return (
        df.groupBy(F.session_window("ts", gap).alias("win"), *keys)
        .agg(*_agg_exprs())
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            *keys,
            "n_events",
            "sum_value",
            "avg_value",
        )
    )


# --------------------------------------------------------------------------
# Incremental rollup store ("hypertable rollup"): maintain per-window
# aggregates of an ever-growing event stream without ever re-scanning
# history. The store holds MERGEABLE PARTIALS (count + exact decimal
# sum — avg is derived at read) in a txlog table (sources/txlog.py)
# partitioned by ``batch``:
#
#     <store>/data/batch=<batch_id>/<uuid>.parquet   (+ <store>/_txlog/)
#
# Exactly-once unit = the batch id: each fold is ONE append committed
# under txn ``rollup:<id>``, so a retried batch is a txn no-op instead
# of a double count. Everything else is the log's own machinery: the
# live batches are the ``batch`` values of the snapshot's live files
# (per-file partition stats, no listing); compact_rollup is one
# conflict-checked rewrite that removes exactly the files it read and
# adds the merged ``c<n>`` files; a reset is an overwrite; the pinned
# window width and the writer claims are table properties; vacuum is
# tx_vacuum. A crash at any point before a commit lands changes no
# read — uncommitted files are invisible to the snapshot.
# --------------------------------------------------------------------------

_BATCH = "batch"


def rollup_batch(events: DataFrame, duration: str, *keys: str) -> DataFrame:
    """One batch's mergeable window partials:
    (window_start, window_end, *keys, n_events, sum_value_dec)."""
    _duration_seconds(duration)  # reject unsupported width syntax early
    return (
        events.groupBy(F.window("ts", duration).alias("win"), *keys)
        .agg(
            F.count("*").alias("n_events"),
            # storage type pinned at decimal(38,4): re-summing partials
            # (compaction) must not widen the column, or files written
            # before and after a compaction disagree on schema
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("decimal(38,4)")
            .alias("sum_value_dec"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *keys,
            "n_events",
            "sum_value_dec",
        )
    )


def _negated(partials: DataFrame, keys: tuple[str, ...]) -> DataFrame:
    """Partials with count and sum negated — a retraction."""
    return partials.select(
        "window_start",
        "window_end",
        *keys,
        (-F.col("n_events")).alias("n_events"),
        (-F.col("sum_value_dec")).cast("decimal(38,4)").alias("sum_value_dec"),
    )


def _is_target(bid: str) -> bool:
    """``c<n>`` — the namespace compaction and reset targets own."""
    return bid.startswith("c") and bid[1:].isdigit()


def _store_snapshot(spark, store_path: str):
    """The store's latest snapshot, or None before its first commit."""
    from ..sources.txlog import _replay

    try:
        return _replay(spark, store_path)
    except FileNotFoundError:
        return None


def _batches(snap) -> set[str]:
    """The live batch ids, read from the log alone (each live file's
    ``batch`` partition stat)."""
    return {snap.stats[f][_BATCH][0] for f in snap.eps}


def _retired(snap) -> set[str]:
    """Fold ids whose txn is committed but whose batch has no live
    file: a compaction or reset merged their rows into a target (or
    the fold was empty). The txn map survives tx_vacuum through the
    checkpoint, so a retired id stays retired."""
    folded = {t[len("rollup:"):] for t in snap.txns if t.startswith("rollup:")}
    return folded - _batches(snap)


def _claim(spark, store_path: str, key: str, value: str, txn: str):
    """``(value held, snapshot)`` for the store property ``key``,
    committing ``value`` under ``txn`` when it is unset. This meta
    commit is the one path that creates the store (a writer claim
    comes before any fold): it records the ``batch`` layout, so the
    first fold appends to the table as laid out. Of two racing
    claimers of one key exactly one publishes; the other reads the
    winner's value."""
    from ..sources.txlog import _commit, _replay

    snap = _store_snapshot(spark, store_path)
    if snap is None or key not in snap.properties:
        meta = {"action": "meta", "add": [], "remove": [], "txn": txn,
                "partition_by": [_BATCH], "properties": {key: value}}
        _commit(spark, store_path, lambda v: {"version": v, **meta}, txn)
        snap = _replay(spark, store_path)
    return snap.properties[key], snap


def _pin_duration(spark, store_path: str, duration: str):
    """Pin the store's base window duration (table property
    ``rollup.duration``) on first write and return the snapshot; later
    writes with a DIFFERENT duration raise — mixing window widths in
    one partial store would silently corrupt every merged read."""
    _duration_seconds(duration)  # reject unsupported width syntax early
    stored, snap = _claim(
        spark, store_path, "rollup.duration", duration, "rollup-duration"
    )
    if stored != duration:
        raise ValueError(
            f"rollup store {store_path} was built with duration "
            f"{stored!r}; refusing to upsert {duration!r} partials "
            "into it (mixed widths corrupt merged reads). Coarser "
            "readouts belong at read time: read_rollup(..., "
            "coarsen=...)."
        )
    return snap


def _fold(partials: DataFrame, store_path: str, duration: str, batch_id) -> None:
    """Every fold flavor's body: the batch-id discipline (see
    :func:`upsert_rollup`), the duration pin, then one append under
    txn ``rollup:<id>``."""
    from ..sources.txlog import tx_write

    bid = str(batch_id)
    if _is_target(bid):
        raise ValueError(
            f"batch_id {bid!r} is in the reserved compaction namespace c<n>"
        )
    snap = _pin_duration(partials.sparkSession, store_path, duration)
    if bid in _retired(snap):
        raise ValueError(
            f"batch_id {bid!r} was retired by a committed compaction of "
            f"{store_path}; rows written under it would be invisible to "
            "read_rollup. Use a fresh batch id (or a fresh store) — e.g. "
            "a restarted stream whose checkpoint was lost must not reuse "
            "its old id sequence."
        )
    tx_write(
        partials.withColumn(_BATCH, F.lit(bid)),
        store_path,
        txn=f"rollup:{bid}",
        partition_by=[_BATCH],
    )


def upsert_rollup(
    events: DataFrame,
    store_path: str,
    duration: str,
    keys: tuple[str, ...] = (),
    batch_id: str = "0",
) -> None:
    """Fold one event batch into the rollup store — idempotently: the
    batch's partials commit as one append under txn ``rollup:<batch_id>``,
    so re-running a failed/duplicate batch is a no-op. (Re-folding an
    id therefore keeps its FIRST rows: a replay must carry the same
    rows, as foreachBatch replay and the view maintainer's
    re-derivation from the source version do.) One aggregation of the
    NEW events only; history is never read, let alone re-aggregated.

    ``c<n>`` ids are reserved for compaction targets, and an id
    RETIRED by a committed compaction can never be reused — its rows
    would be silently invisible to every read. Both misuses raise
    here instead of losing data (the retired case happens when a
    streaming checkpoint is wiped and foreachBatch restarts at batch 0
    against a compacted store: the loud error says use a fresh store
    or a fresh id prefix).
    """
    _fold(rollup_batch(events, duration, *keys), store_path, duration, batch_id)


def retract_rollup(
    events: DataFrame,
    store_path: str,
    duration: str,
    keys: tuple[str, ...] = (),
    batch_id: str = "0",
) -> None:
    """Fold a DELETION batch into the rollup store: the same window
    partials as :func:`upsert_rollup` but NEGATED — additive
    count/sum partials make retraction free at merge time
    (incremental view maintenance under deletes, the classic
    counting-algorithm shape). ``events`` must be the deleted rows
    themselves (a CDC pre-image, e.g.
    ``tx_changes_cdf(preimage=True)``'s delete frames), not keys:
    the window and value of every retracted row decide which partial
    shrinks. Windows whose count reaches zero vanish from
    :func:`read_rollup`, matching a from-scratch recompute.

    Same idempotence and batch-id discipline as upsert (one txn per
    batch id; a retried batch is a no-op that keeps the first rows);
    retracting MORE than was inserted leaves a negative-count window
    visible in reads — loud, attributable misuse rather than silent
    clamping."""
    _fold(
        _negated(rollup_batch(events, duration, *keys), keys),
        store_path,
        duration,
        batch_id,
    )


def fold_rollup_cdf(
    inserts: DataFrame,
    deletes: DataFrame,
    store_path: str,
    duration: str,
    keys: tuple[str, ...] = (),
    batch_id: str = "0",
) -> None:
    """Fold one CDC batch carrying BOTH inserted and deleted rows
    (e.g. a merge commit's update post-images and pre-images from
    ``tx_changes_cdf``'s 'cdf' frames) into the rollup store as ONE
    batch: insert partials plus NEGATED delete partials net out per
    window before the write. One batch id per source version keeps
    the fold atomic-per-version — there is no crash window where the
    retraction landed but the insertion didn't (two separate
    :func:`upsert_rollup`/:func:`retract_rollup` calls would have
    one), and a replay of the id is a txn no-op that keeps the first
    signed rows. Same guards and store schema as the single-sided
    folds."""
    pos = rollup_batch(inserts, duration, *keys)
    neg = _negated(rollup_batch(deletes, duration, *keys), keys)
    _fold(
        pos.unionByName(neg)
        .groupBy("window_start", "window_end", *keys)
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value_dec").cast("decimal(38,4)").alias("sum_value_dec"),
        ),
        store_path,
        duration,
        batch_id,
    )


def claim_rollup_writer(
    spark, store_path: str, writer: str, checkpoint_path: str
) -> None:
    """Claim a batch-id prefix for ONE stream (streaming/windows.py
    ``stream_rollup``). Batch numbering is per-checkpoint, so two
    concurrent streams sharing a store AND a prefix would emit the same
    ``<prefix><n>`` ids — each other's folds would be silently dropped
    as replays. The claim is the table property
    ``rollup.writer.<writer>`` recording the owning stream's
    checkpoint path, committed under txn ``rollup-writer:<writer>``:

    - unclaimed → commit the claim, proceed;
    - claimed by THIS checkpoint → a restart of the same stream,
      proceed (its retries are idempotent by batch id);
    - claimed by a DIFFERENT checkpoint (before this call, or by a
      concurrent claimer that won the commit) → raise loudly — the
      caller must pass a distinct ``writer=`` per stream.

    The reserved compaction namespace (``c<n>``) is rejected up front:
    a writer literally named ``c`` would emit batch ids compaction
    targets own, and ``upsert_rollup`` would refuse every batch.
    """
    import re

    if not writer or re.search(r"[/=\s]", writer):
        raise ValueError(
            f"writer prefix {writer!r} must be non-empty and free of "
            "'/', '=' and whitespace (it names partition dirs)"
        )
    if re.fullmatch(r"c\d*", writer):
        raise ValueError(
            f"writer prefix {writer!r} collides with the reserved "
            "compaction namespace c<n>"
        )
    owner, _ = _claim(
        spark,
        store_path,
        f"rollup.writer.{writer}",
        checkpoint_path,
        f"rollup-writer:{writer}",
    )
    if owner != checkpoint_path:
        raise ValueError(
            f"rollup store {store_path} writer prefix {writer!r} is "
            f"claimed by the stream checkpointed at {owner!r}; this "
            f"stream (checkpoint {checkpoint_path!r}) would silently "
            "overwrite its partials. Pass a distinct writer= id per "
            "concurrent stream."
        )


def read_rollup(
    spark,
    store_path: str,
    keys: tuple[str, ...] = (),
    coarsen: str | None = None,
) -> DataFrame:
    """The current rollup: merge the live partials of one snapshot per
    (window, key) — additive count/sum, avg derived with the
    engine-identical single division the batch window queries use.

    ``coarsen`` re-buckets at read into WIDER epoch-aligned windows
    (store hourly, query daily — the continuous-aggregate pattern):
    base windows nest exactly when the coarser duration is an integer
    multiple of the stored one, which is validated against the store's
    pinned ``rollup.duration``; a non-multiple would straddle
    boundaries and is refused. Pure extra aggregation over
    already-rolled rows — the raw events are never touched."""
    from ..sources.txlog import _read_with_mor

    snap = _store_snapshot(spark, store_path)
    if snap is None or not snap.eps:
        raise FileNotFoundError(f"no rollup partials at {store_path}")
    df = _read_with_mor(spark, store_path, snap, sorted(snap.eps))
    if coarsen is not None:
        base = snap.properties["rollup.duration"]
        if _duration_seconds(coarsen) % _duration_seconds(base) != 0:
            raise ValueError(
                f"coarsen {coarsen!r} is not a multiple of the stored "
                f"duration {base!r}; straddled windows would miscount"
            )
        df = df.select(
            F.window("window_start", coarsen).alias("win"),
            *keys,
            "n_events",
            "sum_value_dec",
        ).select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *keys,
            "n_events",
            "sum_value_dec",
        )
    return (
        df.groupBy("window_start", "window_end", *keys)
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value_dec").alias("sum_value_dec"),
        )
        # fully-retracted windows (insert + equal retraction netting to
        # zero) vanish, matching a from-scratch recompute; a NEGATIVE
        # count (over-retraction) stays visible as the loud misuse it is
        .filter(F.col("n_events") != 0)
        .select(
            "window_start",
            "window_end",
            *keys,
            "n_events",
            F.col("sum_value_dec").cast("double").alias("sum_value"),
            (F.col("sum_value_dec").cast("double") / F.col("n_events")).alias(
                "avg_value"
            ),
        )
    )


def _next_target(snap) -> str:
    """``c<n>`` one past the highest live target."""
    live = [int(b[1:]) for b in _batches(snap) if _is_target(b)]
    return f"c{max(live, default=-1) + 1}"


def compact_rollup(
    spark, store_path: str, keys: tuple[str, ...] = ()
) -> str | None:
    """Merge all live partial batches into one target batch ``c<n>``,
    bounding read amplification. ONE commit, through the same
    conflict-checked rewrite body as ``tx_compact``: it removes exactly
    the files it read and adds the merged files, so a fold committed
    while the compaction runs stays live, and a crash before the
    commit leaves the store exactly as before (the staged target files
    are unreferenced debris for ``vacuum_rollup``). The merged ids stay
    retired forever — their txns remain in the log with no live file.
    Returns the new batch id, or None if ≤1 live batch."""
    from ..sources.txlog import (
        _commit_rewrite,
        _read_with_mor,
        _rewrite_stats,
        _stage_and_place,
    )

    snap = _store_snapshot(spark, store_path)
    if snap is None or len(_batches(snap)) <= 1:
        return None
    target = _next_target(snap)
    files = sorted(snap.eps)
    merged = (
        _read_with_mor(spark, store_path, snap, files)
        .groupBy("window_start", "window_end", *keys)
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value_dec").cast("decimal(38,4)").alias("sum_value_dec"),
        )
        .withColumn(_BATCH, F.lit(target))
    )
    added = _stage_and_place(merged, store_path, [_BATCH])
    _commit_rewrite(
        spark, store_path, added, files, snap, None, "compact",
        stats=_rewrite_stats(spark, store_path, files, added, None, snap),
    )
    return target


def reset_rollup(
    spark,
    store_path: str,
    snapshot: DataFrame,
    duration: str,
    keys: tuple[str, ...] = (),
    reset_id: str = "0",
) -> str:
    """Atomically REPLACE the store's contents with the rollup of
    ``snapshot`` (a full source snapshot — e.g. a txlog overwrite or
    RESTORE delivered by the change feed): one overwrite commit of
    the new partials as target batch ``c<n>`` retires every
    previously-live batch and reveals the target at once — readers
    never observe an empty, doubled, or half-reset store. Like any
    overwrite, it also replaces a fold that commits while it is in
    flight: reset from the process that folds.

    Idempotent by ``reset_id``: the commit carries txn
    ``rollup-reset:<reset_id>``, so a replay is a no-op returning the
    original target (the view maintainer derives the id from the
    source version, so crash replays re-derive it). Retiring the old
    batch ids also makes a FULL history replay safe: a pre-reset
    version's fold lands on a retired id, which the maintainer
    recognizes as already-accounted-for and skips (see
    ``rollup_view_available_now``)."""
    from ..sources.txlog import _commits, tx_write

    txn = f"rollup-reset:{reset_id}"
    snap = _store_snapshot(spark, store_path)
    prior = None if snap is None else snap.txns.get(txn)
    if prior is not None:
        # the batch its files carry: live ones in the snapshot, else
        # the reset's own log entry (None once both are gone)
        stats = [snap.stats[f] for f, v in snap.eps.items() if v == prior]
        if not stats:
            stats = [
                st
                for _, c in _commits(spark, store_path, prior, prior - 1)
                for st in (c.get("stats") or {}).values()
            ]
        return stats[0][_BATCH][0] if stats else None
    snap = _pin_duration(spark, store_path, duration)
    target = _next_target(snap)
    tx_write(
        rollup_batch(snapshot, duration, *keys).withColumn(_BATCH, F.lit(target)),
        store_path,
        mode="overwrite",
        txn=txn,
        partition_by=[_BATCH],
    )
    return target


def retired_rollup_ids(spark, store_path: str) -> set:
    """Batch ids retired by a committed compaction or reset — their
    rows are already merged into a live target, so re-folding one
    would double-count (and ``upsert_rollup`` refuses it)."""
    snap = _store_snapshot(spark, store_path)
    return set() if snap is None else _retired(snap)


def vacuum_rollup(spark, store_path: str) -> list[str]:
    """Garbage-collect dead partials through ``tx_vacuum``: the files
    of batches a committed compaction or reset retired, and the staged
    files of a crashed compaction. Reads never change (only files no
    snapshot references go), and retired ids stay refused (the txn map
    survives in the checkpoint). Like ``tx_vacuum``, run it from the
    maintenance process, not while a fold is between staging and
    commit. Returns the batch ids whose files it deleted."""
    from urllib.parse import unquote

    from ..sources.txlog import tx_vacuum

    if _store_snapshot(spark, store_path) is None:
        return []
    return sorted(
        {
            unquote(seg.split("=", 1)[1])
            for f in tx_vacuum(spark, store_path)
            for seg in f.split("/")
            if seg.startswith(f"{_BATCH}=")
        }
    )


_UNIT_SECONDS = {
    "second": 1, "seconds": 1,
    "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600,
    "day": 86400, "days": 86400,
    "week": 604800, "weeks": 604800,
}


def _duration_seconds(s: str) -> int:
    """Parse Spark's '<n> <unit>' window-duration strings to seconds
    (the subset the rollup store accepts — sub-second widths are not
    meaningful for a persisted rollup)."""
    parts = s.strip().split()
    if len(parts) != 2 or not parts[0].isdigit() or parts[1] not in _UNIT_SECONDS:
        raise ValueError(
            f"unsupported rollup duration {s!r}; use '<n> "
            "second(s)/minute(s)/hour(s)/day(s)/week(s)'"
        )
    return int(parts[0]) * _UNIT_SECONDS[parts[1]]
