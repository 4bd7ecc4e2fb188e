"""Checkpointed incremental table→table pipelines over the txlog
change feed — the "readStream from a table, writeStream to a table"
pattern (Delta streaming source/sink semantics; Structured Streaming's
available-now trigger) rebuilt on this package's own primitives.

Exactly-once without any coordination protocol, from three pieces that
already exist:

1. **At-least-once pull.** :func:`~..sources.txlog.tx_changes_by_version`
   re-derives the identical per-source-version batches on every call —
   the commit log IS the replayable offset range (Kafka-offset shape,
   but versions instead of offsets).
2. **Idempotent commit.** Each source version is written to the sink
   table under txn id ``{name}:v{version}`` — a replayed batch finds
   its txn already in the sink's log and is a no-op
   (sources/txlog.py tx_write's streaming-sink contract).
3. **Cursor persisted AFTER the write.** A crash in any window —
   before the write, between write and cursor persist, mid-persist —
   re-runs the version; step 2 absorbs the duplicate. The cursor file
   is pure optimization (skip re-probing consumed versions), never a
   correctness anchor.

Per-version granularity is load-bearing: draining all unconsumed
versions as ONE batch (plain ``tx_changes``) under one txn id would
widen the batch on a crash-replay that races a concurrent source
append — the overlap would commit twice under the new id. One txn per
source version makes batch boundaries deterministic forever.

100 TB posture: each micro-batch is exactly one source commit's files
— batch size is bounded by the producer's commit size, not by how far
behind the consumer is; a consumer that was down for a week processes
a week of commits as a week of bounded batches, never one giant one.
The cursor is a one-line JSON; all data movement is executor-side
parquet scan → transform → parquet write.

Reference parity: the reference engine (master/master.go) streams
nothing and stores nothing transactional; this extends the round-7/9
txlog family (see also streaming/foreach_sink.py for the Structured
Streaming foreachBatch variant of the same idempotence argument).
"""

from __future__ import annotations

import json
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ..sources.sinks import hadoop_fs
from ..sources.txlog import (
    _read_small,
    tx_changes_by_version,
    tx_changes_cdf,
    tx_delete,
    tx_write,
)

_CURSOR = "cursor.json"


def load_cursor(spark: SparkSession, checkpoint: str) -> int | None:
    """Last fully-processed source version, or None before first run."""
    fs, p = hadoop_fs(spark, f"{checkpoint}/{_CURSOR}")
    if not fs.exists(p):
        return None
    data = _read_small(spark, fs, p)
    return int(json.loads(data.decode("utf-8"))["version"])


def save_cursor(spark: SparkSession, checkpoint: str, version: int) -> None:
    """Persist the cursor via tmp-write + delete + rename. The
    non-atomic delete/rename window is safe by design: a crash that
    loses the cursor only forces re-pulling versions whose sink txns
    already exist — re-delivery is absorbed, never duplicated."""
    fs, final = hadoop_fs(spark, f"{checkpoint}/{_CURSOR}")
    _, tmp = hadoop_fs(spark, f"{checkpoint}/{_CURSOR}.tmp")
    payload = json.dumps({"version": version}).encode("utf-8")
    out = fs.create(tmp, True)
    try:
        out.write(payload)
    finally:
        out.close()
    if fs.exists(final):
        fs.delete(final, False)
    if not fs.rename(tmp, final):
        raise IOError(f"could not publish cursor at {checkpoint}")


def pipe_available_now(
    spark: SparkSession,
    src: str,
    dst: str,
    transform: "Callable[[DataFrame], DataFrame] | None" = None,
    *,
    checkpoint: str,
    name: str = "pipe",
    stats_cols=None,
    cdc_key: str | None = None,
    preimage: bool = False,
) -> dict:
    """Drain every unconsumed commit of the txlog table at ``src``
    into the txlog table at ``dst``, one sink commit per source
    version, exactly once — then return. (Structured Streaming's
    ``Trigger.AvailableNow`` shape: process the backlog, stop.)

    ``transform`` maps each micro-batch DataFrame (rows added by one
    source commit) to the rows to append; None = identity. It must be
    deterministic-per-batch in the eventual-consistency sense any
    foreachBatch sink requires — a replay re-runs it on the identical
    input, and only the txn id guards the result.

    ``name`` namespaces the txn ids, so several independent pipes can
    feed the same sink table; reusing a name against the same sink
    with a DIFFERENT source or transform silently dedups — treat the
    (name, checkpoint) pair as the pipeline's identity.

    ``cdc_key`` switches the source feed from insert-only to
    CDC-complete (:func:`~..sources.txlog.tx_changes_cdf`): source
    deletes (merge-on-read tombstones AND copy-on-write rewrites) and
    source MERGEs REPLICATE instead of raising. Deletes apply to the
    sink as merge-on-read deletes on ``cdc_key`` under the same
    version-numbered txn ids (idempotent like every other batch, and
    O(|keys|) — no scan on either side). A merge applies as TWO sink
    commits under txn ids ``{name}:v{v}.rm`` then ``{name}:v{v}``: a
    merge-on-read delete of every changed key, then an append of the
    post-image rows — the appended rows postdate the tombstone, so
    the epoch rule makes this an exact upsert, with NO sink rewrite
    (O(changes), never O(touched sink files)) and no interaction with
    the sink's live tombstones (a sink-side ``tx_merge`` would refuse
    those). Each of the two commits is individually idempotent, so a
    crash between them replays cleanly: the delete dedups, the append
    lands. ``transform`` still applies to insert/post-image rows only
    and must preserve the key column's meaning; update keys whose
    post-image the transform filtered out are simply deleted on the
    sink (the ``.rm`` tombstone already named them). Sink tombstones
    settle at the sink's own maintenance
    (:func:`~..sources.txlog.tx_maintain`). A source delete keyed on
    a column OTHER than ``cdc_key`` needs ``preimage=True``: the feed
    then materializes the full deleted rows (one bounded
    pre-delete-snapshot semi-join per delete version) and the pipe
    projects ``cdc_key`` out of them; with the default keys-only feed
    such a version raises with that exact instruction rather than
    guessing. A source OVERWRITE
    (including RESTORE, which commits as one) replicates as the
    sink's own overwrite — the snapshot reset carries through, sink
    tombstones and all, under the same per-version txn id.

    Raises (from the change feed) on rewrites committed with
    ``cdf=False`` — reprocess the snapshot, re-seed the cursor with
    :func:`save_cursor`, and resume.

    Returns ``{"cursor", "versions", "writes"}``: the persisted
    cursor, versions consumed this call, sink commits made this call.
    """
    from pyspark.sql import functions as F

    if src.rstrip("/") == dst.rstrip("/"):
        raise ValueError("src and dst are the same table; refusing a feedback loop")
    cur = load_cursor(spark, checkpoint)
    n_versions = n_writes = 0
    last = cur
    if cdc_key is None:
        feed = (
            (v, "insert" if batch is not None else None, batch)
            for v, batch in tx_changes_by_version(spark, src, cur)
        )
    else:
        feed = tx_changes_cdf(spark, src, cur, preimage=preimage)
    for v, kind, batch in feed:
        if batch is not None:
            if kind == "delete" and cdc_key not in batch.columns:
                # a merge-on-read delete keyed on a DIFFERENT column
                # than the pipe's replication key: its keys-only frame
                # cannot name the cdc_key rows to delete on the sink.
                # preimage=True makes the feed materialize the full
                # deleted rows (one bounded pre-delete-snapshot
                # semi-join per delete version), after which the
                # cdc_key projection below works for any delete column.
                raise ValueError(
                    f"source delete at version {v} is keyed on "
                    f"{batch.columns} but the pipe replicates on "
                    f"{cdc_key!r}; re-run with preimage=True (or key "
                    "source deletes on the pipe's cdc_key)"
                )
            if kind == "insert":
                out = transform(batch) if transform is not None else batch
                tx_write(
                    out,
                    dst,
                    txn=f"{name}:v{v}",
                    stats_cols=stats_cols,
                    # the sink follows the SOURCE's schema evolution:
                    # a merge-mode append upstream must not wedge the
                    # replica (reads auto-merge after, both sides)
                    schema_mode="merge",
                )
                n_writes += 1
            elif kind == "delete":
                tx_delete(
                    batch.select(cdc_key).distinct(),
                    dst,
                    cdc_key,
                    txn=f"{name}:v{v}",
                    mode="merge_on_read",
                )
                n_writes += 1
            elif kind == "overwrite":
                # snapshot reset (incl. RESTORE): replicate as the
                # sink's own overwrite — one idempotent commit that
                # also clears any replicated sink tombstones, exactly
                # as the source's overwrite cleared the source's
                out = transform(batch) if transform is not None else batch
                tx_write(
                    out,
                    dst,
                    mode="overwrite",
                    txn=f"{name}:v{v}",
                    stats_cols=stats_cols,
                )
                n_writes += 1
            else:  # 'cdf': a source merge — delete-then-append upsert
                tx_delete(
                    batch.select(cdc_key).distinct(),
                    dst,
                    cdc_key,
                    txn=f"{name}:v{v}.rm",
                    mode="merge_on_read",
                )
                post = batch.filter(
                    F.col("_change_type").isin("insert", "update_postimage")
                ).drop("_change_type")
                out = transform(post) if transform is not None else post
                tx_write(
                    out,
                    dst,
                    txn=f"{name}:v{v}",
                    stats_cols=stats_cols,
                    # the sink follows the SOURCE's schema evolution:
                    # a merge-mode append upstream must not wedge the
                    # replica (reads auto-merge after, both sides)
                    schema_mode="merge",
                )
                n_writes += 2
        save_cursor(spark, checkpoint, v)
        n_versions += 1
        last = v
    return {"cursor": last, "versions": n_versions, "writes": n_writes}


#: Live per-pipe status of the most recent :func:`run_pipes` loop —
#: {name: {"status", "ticks", "versions", "failures", ...}} — exported
#: so the runtime dashboard (runtime/progress.progress_snapshot) can
#: show a pipes row next to the scheduler state. Mutated in place by
#: the scheduler thread(s); readers treat it as a snapshot.
PIPES_STATUS: dict = {}


def run_pipes(
    pipes: "dict[str, Callable[[], dict]]",
    *,
    interval: float = 10.0,
    max_rounds: "int | None" = None,
    backoff: float = 2.0,
    max_interval: "float | None" = None,
    max_failures: int = 3,
    concurrency: "int | None" = None,
    sleep=None,
) -> dict:
    """Drive N AvailableNow pipes against one warehouse — the step
    from pipe PRIMITIVES to a pipeline you'd leave running. ``pipes``
    maps a name to a zero-arg tick closure (the same shape
    :func:`run_pipe` takes: :func:`pipe_available_now`,
    :func:`rollup_view_available_now`,
    :func:`~.dedup.dedup_pipe_available_now`, ...), each with its OWN
    checkpoint — exactly-once per pipe is the drain's own property, so
    the scheduler adds no coordination, only cadence and isolation:

    - **Concurrent ticks.** Each round runs every due pipe's tick in a
      thread pool (Spark schedules their jobs concurrently; FAIR or
      FIFO per the session config). ``concurrency`` caps the pool
      (default: all due pipes).
    - **Per-pipe backoff.** A pipe whose tick consumed no versions
      waits ``backoff``× longer before its next tick (capped at
      ``max_interval``, default 8×interval); a productive tick snaps
      it back — ten idle pipes cost ten metadata probes every few
      minutes, not a hot loop.
    - **Failure isolation.** A tick that raises marks the pipe's
      failure count and error; ``max_failures`` CONSECUTIVE failures
      quarantine that pipe (status ``'poisoned'``, skipped thereafter)
      while every other pipe keeps draining. A later
      :func:`run_pipes` call (operator restart after fixing the
      cause) resumes the poisoned pipe from its checkpoint — crash
      recovery is the drain's per-version txn idempotence, not the
      scheduler's.
    - **Dashboard row.** Progress lives in :data:`PIPES_STATUS`
      (served by the runtime dashboard's ``/data`` endpoint next to
      the scheduler snapshot).

    ``max_rounds`` bounds the loop (None = daemon shape); ``sleep`` is
    injectable for tests. Returns the final per-pipe status dict (the
    same object as :data:`PIPES_STATUS`)."""
    import time as _time
    from concurrent.futures import ThreadPoolExecutor

    if sleep is None:
        sleep = _time.sleep
    if max_interval is None:
        max_interval = interval * 8
    PIPES_STATUS.clear()
    state = {
        name: {
            "status": "idle", "ticks": 0, "versions": 0, "writes": 0,
            "folds": 0, "failures": 0, "last_error": None,
            "wait": interval, "due": 0.0,
        }
        for name in pipes
    }
    PIPES_STATUS.update(state)
    clock = 0.0  # virtual time driven by the injectable sleep
    rounds = 0

    def _tick(name: str):
        st = state[name]
        st["status"] = "running"
        try:
            r = pipes[name]() or {}
        except Exception as exc:  # noqa: BLE001 — isolation is the point
            st["failures"] += 1
            st["last_error"] = f"{type(exc).__name__}: {exc}"
            if st["failures"] >= max_failures:
                st["status"] = "poisoned"
            else:
                st["status"] = "failing"
                st["wait"] = min(st["wait"] * backoff, max_interval)
                st["due"] = clock + st["wait"]
            return
        st["failures"] = 0
        st["last_error"] = None
        st["ticks"] += 1
        for k in ("versions", "writes", "folds"):
            st[k] += r.get(k, 0)
        if r.get("versions", 0):
            st["wait"] = interval  # productive: full cadence
            st["status"] = "draining"
        else:
            st["wait"] = min(st["wait"] * backoff, max_interval)
            st["status"] = "idle"
        st["due"] = clock + st["wait"]

    while max_rounds is None or rounds < max_rounds:
        due = [
            n for n, st in state.items()
            if st["status"] != "poisoned" and st["due"] <= clock
        ]
        if due:
            with ThreadPoolExecutor(
                max_workers=min(len(due), concurrency or len(due))
            ) as pool:
                list(pool.map(_tick, due))
        rounds += 1
        live = [
            st for st in state.values() if st["status"] != "poisoned"
        ]
        if not live:
            break  # every pipe is quarantined: nothing left to drive
        if max_rounds is not None and rounds >= max_rounds:
            break
        step = max(min(st["due"] for st in live) - clock, interval)
        sleep(step)
        clock += step
    return state


def run_pipe(
    tick: "Callable[[], dict]",
    *,
    interval: float = 10.0,
    max_ticks: "int | None" = None,
    backoff: float = 2.0,
    max_interval: "float | None" = None,
    sleep=None,
) -> dict:
    """Processing-time trigger around any AvailableNow drain (the
    ``Trigger.ProcessingTime`` shape): call ``tick()`` — a zero-arg
    closure over :func:`pipe_available_now`,
    :func:`rollup_view_available_now`, or
    :func:`~.dedup.dedup_pipe_available_now` — then sleep and repeat.

    Quiet-tick backoff: a tick that consumed NO source versions
    stretches the next sleep by ``backoff`` (capped at
    ``max_interval``, default ``8 × interval``); any productive tick
    snaps it back to ``interval`` — an idle pipe costs a metadata
    probe every few minutes instead of every few seconds, and a busy
    one drains at full cadence. Exactly-once across ticks is the
    drain's own property (per-version txn ids; the trigger adds no
    coordination), so a concurrent writer landing commits between
    ticks is the NORMAL case, not a race.

    ``max_ticks`` bounds the loop (None = run until interrupted — the
    production daemon shape). ``sleep`` is injectable for tests.
    Returns totals: ``{"ticks", "versions", "writes", "folds"}``."""
    import time as _time

    if sleep is None:
        sleep = _time.sleep
    if max_interval is None:
        max_interval = interval * 8
    totals = {"ticks": 0, "versions": 0, "writes": 0, "folds": 0}
    wait = interval
    while max_ticks is None or totals["ticks"] < max_ticks:
        r = tick()
        totals["ticks"] += 1
        totals["versions"] += r.get("versions", 0)
        totals["writes"] += r.get("writes", 0)
        totals["folds"] += r.get("folds", 0)
        if max_ticks is not None and totals["ticks"] >= max_ticks:
            break
        wait = interval if r.get("versions", 0) else min(
            wait * backoff, max_interval
        )
        sleep(wait)
    return totals


def rollup_view_available_now(
    spark: SparkSession,
    src: str,
    store: str,
    duration: str,
    keys: tuple = (),
    *,
    checkpoint: str,
) -> dict:
    """Maintain a continuous-aggregate VIEW of the txlog table at
    ``src`` in the rollup store at ``store`` — incrementally, under
    appends, deletes (merge-on-read AND copy-on-write), and MERGEs,
    exactly once. (Incremental view maintenance with retraction:
    inserts fold positive window partials, CDC delete pre-images fold
    NEGATED ones, and a merge folds both sides SIGNED in one batch —
    the additive store nets them out; no history rescan, ever.)

    Each source version becomes one idempotent store batch
    (``batch_id='v<N>'``, one append under txn ``rollup:v<N>`` —
    a replay re-derives the same rows and is a no-op), cursor
    persisted after the fold — the same crash calculus as
    :func:`pipe_available_now`. Delete versions use the change feed's
    ``preimage=True`` arm: retraction needs the deleted rows' window
    column and value, not just their keys; that one bounded
    pre-delete-snapshot semi-join is the entire cost of supporting
    merge-on-read deletes (copy-on-write deletes and merges carry
    their pre-images in the commit's own cdf sidecar — free). Merge
    versions net update pre-images against post-images + inserts in
    ONE signed fold (``fold_rollup_cdf``), so even a crash replay
    never exposes a half-applied merge to readers. A source OVERWRITE
    (including RESTORE) becomes an atomic store RESET
    (``reset_rollup``): one overwrite commit of the store retires
    every prior batch and reveals the new snapshot's partials — readers never see
    empty, doubled, or half-reset state, and incremental maintenance
    resumes on top. The invariant (pinned by tests) is
    ``read_rollup(store) == full recompute over tx_read(src)`` after
    every tick.

    Replay safety across resets: a fold whose batch id was RETIRED by
    a committed reset/compaction is already merged into a live target
    — re-folding would double-count, so such versions are skipped
    (this is what makes even a lost-cursor full-history replay
    converge instead of erroring on pre-reset versions)."""
    from pyspark.sql import functions as F

    from ..operators.timeseries import (
        fold_rollup_cdf,
        reset_rollup,
        retired_rollup_ids,
        retract_rollup,
        upsert_rollup,
    )

    cur = load_cursor(spark, checkpoint)
    n_versions = n_folds = 0
    last = cur
    for v, kind, batch in tx_changes_cdf(spark, src, cur, preimage=True):
        if batch is not None:
            if kind == "overwrite":
                reset_rollup(
                    spark, store, batch, duration, keys, reset_id=f"v{v}"
                )
                n_folds += 1
            elif f"v{v}" in retired_rollup_ids(spark, store):
                pass  # already merged into a reset/compaction target
            elif kind == "cdf":
                ct = F.col("_change_type")
                fold_rollup_cdf(
                    batch.filter(
                        ct.isin("insert", "update_postimage")
                    ).drop("_change_type"),
                    # retract pre-images AND clause-deleted rows — a
                    # conditional merge's WHEN MATCHED DELETE emits
                    # 'delete' rows INSIDE the cdf frame (round 14);
                    # ignoring them would keep counting removed rows
                    batch.filter(
                        ct.isin("update_preimage", "delete")
                    ).drop("_change_type"),
                    store,
                    duration,
                    keys,
                    batch_id=f"v{v}",
                )
                n_folds += 1
            else:
                fold = upsert_rollup if kind == "insert" else retract_rollup
                fold(batch, store, duration, keys, batch_id=f"v{v}")
                n_folds += 1
        save_cursor(spark, checkpoint, v)
        n_versions += 1
        last = v
    return {"cursor": last, "versions": n_versions, "folds": n_folds}
