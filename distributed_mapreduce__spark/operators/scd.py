"""Slowly-changing-dimension maintenance (SCD Type 2).

An upsert (``tx_merge`` on a txlog table) REPLACES a key's row —
right for indexes, wrong for dimensions where history matters
("what was this supplier's address when the order shipped?"). The
warehouse-standard answer is SCD Type 2: each key carries a CHAIN of
versions ``(valid_from, valid_to, is_current)``; an attribute change
closes the open version at the change timestamp and opens a new one.

``scd2_apply`` folds a batch of timestamped updates into a dimension
table in ONE pass of window algebra — no per-update loop, no driver
round trips, arbitrarily many updates per key per batch:

1. closed historical versions pass through untouched (their span can
   never change);
2. each key's OPEN version unions with the key's updates, ordered by
   timestamp; CONSECUTIVE versions with identical tracked attributes
   collapse (a re-stated value is not a change — lag() comparison);
3. ``valid_to`` = lead(valid_from) over the surviving chain; the last
   version stays open (``valid_to`` NULL, ``is_current`` true).

Determinism: ties on (key, ts) order by the attribute struct so
retries produce identical chains. An update older than the key's open
version still splices correctly (the chain is rebuilt from sorted
timestamps), with the documented caveat that updates older than
CLOSED history are rejected — rewriting closed spans is a restatement
job, not an incremental apply.

Scale: one shuffle keyed on the dimension key (window + groupBy) over
open-rows + batch only — closed history is filter-pruned, never
windowed. Dimensions are small next to facts; this runs where the
dimension lives. Write the result to a txlog table with
``tx_merge(result, path, [*key, "valid_from"])`` or a full dimension
overwrite (``tx_write(mode="overwrite")``). The whole transform is portable window SQL —
the DuckDB oracle replays it (tests/test_scd.py).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def scd2_init(
    snapshot: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    tracked_cols: Sequence[str],
) -> DataFrame:
    """Bootstrap a Type-2 dimension from a plain snapshot: every row
    becomes its key's open version effective at ``ts_col``."""
    return snapshot.select(
        *key_cols,
        *tracked_cols,
        F.col(ts_col).alias("valid_from"),
        F.lit(None).cast(snapshot.schema[ts_col].dataType).alias("valid_to"),
        F.lit(True).alias("is_current"),
    )


def scd2_apply(
    dim: DataFrame,
    updates: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    tracked_cols: Sequence[str],
) -> DataFrame:
    """Fold timestamped ``updates`` (key_cols + tracked_cols + ts_col)
    into a Type-2 ``dim`` (as produced by :func:`scd2_init` /
    previous applies) → the new dimension table (module docstring).

    Updates at a timestamp ≤ an affected key's LATEST CLOSED
    ``valid_to`` raise: they would rewrite settled history. Updates
    equal to the current attributes (no tracked change) are absorbed
    without opening a version.
    """
    keys = list(key_cols)
    tracked = list(tracked_cols)
    attrs = F.struct(*[F.col(c) for c in tracked])

    closed = dim.filter(~F.col("is_current"))
    open_v = dim.filter(F.col("is_current")).select(
        *keys, *tracked, "valid_from"
    )
    batch = updates.select(
        *keys, *tracked, F.col(ts_col).alias("valid_from")
    )

    # late-update guard: an update must not predate settled (closed)
    # history for its key
    affected = batch.select(*keys, "valid_from")
    frontier = closed.groupBy(*keys).agg(F.max("valid_to").alias("_frontier"))
    late = (
        affected.join(frontier, keys)
        .filter(F.col("valid_from") < F.col("_frontier"))
        .limit(1)
        .collect()
    )
    if late:
        row = late[0]
        raise ValueError(
            "scd2_apply: update at "
            f"{row['valid_from']} predates closed history "
            f"({row['_frontier']}) for key "
            f"{tuple(row[k] for k in keys)}; restate the dimension "
            "instead of applying incrementally"
        )

    chain = open_v.unionByName(batch)
    w = Window.partitionBy(*keys).orderBy(
        F.asc("valid_from"), F.asc(attrs)
    )
    # collapse consecutive identical attribute states (re-stated value
    # is not a change), then span the survivors
    dedup = chain.withColumn("_prev", F.lag(attrs).over(w)).filter(
        F.col("_prev").isNull() | (F.col("_prev") != attrs)
    )
    w2 = Window.partitionBy(*keys).orderBy(F.asc("valid_from"), F.asc(attrs))
    rebuilt = dedup.select(
        *keys,
        *tracked,
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
    ).withColumn("is_current", F.col("valid_to").isNull())
    return closed.unionByName(rebuilt)


def scd2_as_of(
    dim: DataFrame, ts, key_cols: Sequence[str] | None = None
) -> DataFrame:
    """The dimension as it stood at ``ts``: rows whose
    ``[valid_from, valid_to)`` span covers the timestamp."""
    t = F.lit(ts)
    return dim.filter(
        (F.col("valid_from") <= t)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
    )
