"""Atomic multi-table transactions over txlog tables.

Closes the "single-table transactions only" gap: :func:`tx_multi`
appends to ANY number of txlog tables such that either every table's
commit becomes visible or none does — across crashes at any point.
The design is the catalog-commit shape (Iceberg REST-catalog
multi-table commits; Delta's coordinated-commits direction), rebuilt
on this module's own primitives:

1. **Stage + provisionally commit per table.** Each participant runs
   the single-table body of its verb — ``tx_write``'s (``txlog._write``)
   for an append or overwrite, ``txlog._merge`` for a merge — so it
   commits through the same claim loop and re-checks as that verb; its
   payload only adds ``{"multi": {"coordinator", "txid"}}``.
   Provisional commits occupy a version but are INVISIBLE to readers
   (``txlog._snapshot_files`` skips them while unresolved).
2. **Publish ONE coordinator record.** The transaction's atomic commit
   point is a put-if-absent write of
   ``<coordinator>/_multitx/<txid>.json``. The instant it lands, every
   participant's provisional commit is committed — readers of any
   table resolve through the same record, so there is no state where
   table A shows the transaction and a crash left table B without it.
3. **Abort is a tombstone on the SAME filename.** ``tx_multi_abort``
   put-if-absent-writes ``{"aborted": true}`` to the identical path, so
   commit-vs-abort is arbitrated by the scheme's
   :class:`~.txlog.CommitClaimer` — exactly one wins, no precedence
   rules, no torn outcomes.

Crash matrix: die before any commit → nothing visible, staged files
are vacuum debris. Die between table commits → some tables hold
pending commits; nothing visible; a retry with the same ``txn`` id
reuses them (per-table ``txn`` dedup) and finishes; or an operator
runs :func:`tx_multi_abort` to kill the orphan. Die after the record
→ everything visible; retry returns the recorded versions.

Safety interlocks in txlog: checkpoints refuse to fold an unresolved
multi commit (``_write_checkpoint``), and ``tx_vacuum`` neither
truncates the log nor deletes provisional files while one is pending
— an aborted transaction's files become ordinary vacuum debris.

100 TB posture: the coordinator record is one KB-sized JSON per
transaction; an append or overwrite participant pays exactly what a
plain ``tx_write(txn=)`` pays, a merge participant what ``tx_merge``
pays (driver-side renames + small JSON I/O, data moves executor-side).
Readers pay one existence probe per UNRESOLVED commit in replay
range, and terminal resolutions are cached process-wide.

Scope: ``append`` (default), ``overwrite``, and ``merge`` per
participant (``modes=``; merge since round 11). Append and overwrite
are ``tx_write`` with its whole contract: schema-on-write, the
table's partitioning, column mapping, CHECK constraints, row-id bases
on row-tracked tables, writer-feature stamps, and the re-check of all
of these when a concurrent commit takes the participant's version.
Overwrite carries single-table overwrite's own semantics — a
whole-snapshot replacement, last-writer-wins, no conflict check to
lose — made atomic across tables by the same coordinator record;
replay applies the reset at the commit's version position once
resolved, so no reader ever sees table A's new snapshot with table
B's old one.

``merge`` runs the exact single-table MERGE body per participant
(stats-pruned copy-on-write upsert, CDF sidecar per the table's
``cdf.enabled``, the full conflict checks) and commits it
provisionally; the coordinator record makes every table's merge
visible at once. Cross-table serializability comes from two guards in
``txlog._commit_rewrite`` — the one commit body of every rewrite and
deletion-vector DELETE/UPDATE — and its
``_concurrent_append_conflicts`` that treat PENDING multi commits as
conflicts: a single-table rewrite or DV touching a pending
transaction's removed files aborts loudly (instead of committing a
change that would double-apply, or be lost, the moment the record
lands), and a key-targeted rewrite sees pending adds in its key range
exactly like post-anchor appends. The price: while a multi merge is
pending, overlapping rewrites and DVs on its participants are
blocked until it resolves (commit or abort) — the same table-level
courtesy Delta's coordinated commits demand, and bounded by the same
operator controls (:func:`tx_multi_abort`, ``tx_multi_pending``). A
conflict raised mid-transaction leaves the finished participants
provisional and NOTHING visible; retrying with the same ``txn``
resumes them and re-prepares the conflicted merge on the new
snapshot, or :func:`tx_multi_abort` kills the attempt.

Reference parity: the reference engine (master/master.go) has no
storage transactions at all; this extends the round-7/8 txlog family.
"""

from __future__ import annotations

import json
import uuid

from pyspark.sql import DataFrame, SparkSession

from .sinks import hadoop_fs
from .txlog import (
    _merge,
    _multi_record_path,
    _pending_multi,
    _read_record,
    _write,
    _write_atomic,
)


class MultiTxAborted(RuntimeError):
    """The transaction's coordinator slot holds an abort tombstone."""


def tx_multi(
    writes: "dict[str, DataFrame]",
    coordinator: str,
    txn: str | None = None,
    stats_cols=None,
    modes: "dict[str, str] | None" = None,
    merge_keys: "dict[str, str | list[str]] | None" = None,
    merge_clauses: "dict[str, dict] | None" = None,
) -> "dict[str, int]":
    """Atomically commit each DataFrame to its table: all become
    visible together, or none do. Returns {table path: version}.

    ``coordinator`` is the directory whose ``_multitx/`` holds the
    commit records — use one coordinator per related table group (a
    "catalog"); participants may live on any filesystem. ``txn``
    makes crash-retries idempotent AND exactly-once: a retry resumes
    half-done table commits and republishing is a no-op; omit it and
    a fresh txid is drawn (a retry after a mid-flight crash would
    then leave the first attempt pending until aborted).
    ``stats_cols`` is :func:`~.txlog.tx_write`'s, applied to each
    append or overwrite participant.

    ``modes`` maps a table path to ``'append'`` (default),
    ``'overwrite'``, or ``'merge'`` — e.g. atomically replacing a
    dimension snapshot while appending its fact deltas, or upserting
    an entity table and its by-key index together. Overwrite keeps
    single-table overwrite's last-writer-wins semantics; merge runs
    the single-table MERGE body (stats-pruned rewrite, CDF per the
    table's ``cdf.enabled``, full conflict checks) per participant —
    both made cross-table atomic by the coordinator record (the
    module docstring's scope and serializability notes). A merge
    participant needs its upsert key in ``merge_keys={table: col}``
    (a composite key passes a LIST) and the table must exist.

    ``merge_clauses={table: {"when_matched": [...],
    "when_not_matched": [...], "when_not_matched_by_source": [...]}}``
    upgrades that participant's body to the full conditional ``MERGE
    INTO`` (round 15 — the exact clause semantics, pruning, and
    conflict scope of single-table :func:`~.txlog.tx_merge` with
    clauses), so a cross-table conditional upsert commits atomically.
    A conflict raises with the transaction still pending and nothing
    visible: retry with the same ``txn`` to resume, or
    :func:`tx_multi_abort`."""
    if not writes:
        raise ValueError("tx_multi needs at least one table")
    for p, m in (modes or {}).items():
        if m not in ("append", "overwrite", "merge"):
            raise ValueError(
                f"modes[{p!r}] must be append|overwrite|merge, got {m!r}"
            )
        if m == "merge" and not (merge_keys or {}).get(p):
            raise ValueError(
                f"modes[{p!r}]='merge' needs merge_keys[{p!r}] (the "
                "upsert key column)"
            )
    for p, cl in (merge_clauses or {}).items():
        if (modes or {}).get(p) != "merge":
            raise ValueError(
                f"merge_clauses[{p!r}] needs modes[{p!r}]='merge'"
            )
        bad = set(cl) - {
            "when_matched", "when_not_matched",
            "when_not_matched_by_source",
        }
        if bad:
            raise ValueError(
                f"merge_clauses[{p!r}] has unknown key(s) "
                f"{sorted(bad)} (allowed: when_matched, "
                "when_not_matched, when_not_matched_by_source)"
            )
    spark = next(iter(writes.values())).sparkSession
    txid = txn or uuid.uuid4().hex

    if (rec := _read_record(spark, coordinator, txid)) is not None:
        if rec.get("aborted"):
            raise MultiTxAborted(f"transaction {txid!r} was aborted")
        return dict(rec["tables"])  # idempotent replay of a success

    table_txn = f"multi:{txid}"
    marker = {"multi": {"coordinator": coordinator, "txid": txid}}
    versions: dict[str, int] = {}
    # deterministic participant order so concurrent retries of the
    # same txn converge instead of deadlocking on different prefixes
    for path in sorted(writes):
        mode = (modes or {}).get(path, "append")
        # each participant runs the single-table body of its verb and
        # differs only in its commit, which carries the multi marker
        # and so stays invisible until the coordinator record lands.
        # Both bodies return the version of a table_txn a crashed
        # attempt committed
        if mode != "merge":
            versions[path] = _write(
                writes[path], path, mode, table_txn, stats_cols,
                extra=marker,
            )
            continue
        # no clauses: the upsert
        cl = (merge_clauses or {}).get(path)
        clauses = [None] * 3 if cl is None else [
            list(cl.get(k) or []) for k in (
                "when_matched", "when_not_matched",
                "when_not_matched_by_source",
            )
        ]
        try:
            versions[path] = _merge(
                writes[path], path, merge_keys[path], table_txn, None,
                *clauses, extra=marker,
            )
        except FileNotFoundError as e:
            raise FileNotFoundError(
                f"modes[{path!r}]='merge' but the table does not "
                f"exist; merge needs live rows to upsert into ({e})"
            ) from e

    # the atomic commit point: one put-if-absent record resolves every
    # participant's provisional commit at once
    fs = hadoop_fs(spark, coordinator)[0]
    record = {"txid": txid, "tables": versions}
    if not _write_atomic(
        spark,
        fs,
        _multi_record_path(coordinator, txid),
        json.dumps(record).encode(),
    ):
        rec = _read_record(spark, coordinator, txid)
        if rec is None or rec.get("aborted"):
            raise MultiTxAborted(
                f"transaction {txid!r} was aborted before publish; its "
                "provisional commits are dead and its files are vacuum debris"
            )
        return dict(rec["tables"])  # a concurrent retry published first
    return versions


def tx_multi_abort(spark: SparkSession, coordinator: str, txid: str) -> bool:
    """Kill a pending transaction (e.g. its writer is known dead).
    True = the abort tombstone won the coordinator slot (or one was
    already there); False = too late, the transaction committed first.
    Racing the writer is safe either way: the slot is put-if-absent,
    so exactly one outcome exists."""
    if _write_atomic(
        spark,
        hadoop_fs(spark, coordinator)[0],
        _multi_record_path(coordinator, txid),
        json.dumps({"txid": txid, "aborted": True}).encode(),
    ):
        return True
    rec = _read_record(spark, coordinator, txid)
    return bool(rec and rec.get("aborted"))


def tx_multi_status(spark: SparkSession, coordinator: str, txid: str) -> dict:
    """{'status': committed|aborted|pending, 'tables': {...}|None}."""
    rec = _read_record(spark, coordinator, txid)
    if rec is None:
        return {"status": "pending", "tables": None}
    if rec.get("aborted"):
        return {"status": "aborted", "tables": None}
    return {"status": "committed", "tables": dict(rec["tables"])}


def tx_multi_pending(spark: SparkSession, path: str) -> "list[dict]":
    """Operator visibility: this table's provisional commits whose
    transactions are still unresolved — each blocks checkpoint folding
    and log truncation until its writer finishes or an operator
    aborts it."""
    return [
        {
            "version": v,
            "txid": c["multi"]["txid"],
            "coordinator": c["multi"]["coordinator"],
            "n_added": len(c.get("add", [])),
        }
        for v, c in _pending_multi(spark, path)
    ]
