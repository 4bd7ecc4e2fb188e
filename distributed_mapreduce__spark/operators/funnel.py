"""Filter funnel: rule-chain application with per-rule drop accounting.

Every curation pipeline is a chain of keep/drop rules (length bounds,
repetition caps, quality thresholds, PII gates, …). Two things matter
operationally: rows must carry WHY they were dropped, and the pipeline
must report a funnel — how many rows entered each rule, how many each
rule removed — because "we lost 40% of the corpus" is only actionable
per-rule.

``apply_filters`` evaluates ALL rule predicates in one projection and
tags each row with its first failing rule (``drop_reason`` NULL =
kept). Rules are Column predicates, so any signal in this package
composes (quality_expr, dup_word_frac, PII counts, …).

``funnel_report`` derives the sequential funnel from one aggregation
over the tagged rows: count rows per first-failing rule, then compute
each rule's (n_in, n_dropped, n_out) by a running subtraction over the
rule-count table — which has ONE ROW PER RULE, so the ordered window
at the end never sees data rows. Total cost at 100 TB: one scan, one
rule-cardinality aggregation. The naive alternative — one
count()/filter() pass per rule — scans the corpus R times and tells
you nothing about reasons.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.tables import local_frame


def apply_filters(
    df: DataFrame, rules: Sequence[tuple[str, Column]]
) -> DataFrame:
    """Tag rows with ``drop_reason`` = name of the first failing rule
    (NULL = row passes every rule). One projection; no shuffle."""
    if not rules:
        raise ValueError("rules must be non-empty")
    names = [n for n, _ in rules]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate rule names: {names}")
    # array_position is 1-based and 0 when absent (no false → kept).
    # NULL predicates (e.g. a comparison over a NULL column) coalesce
    # to false FIRST: a sequential df.filter(p) chain drops NULL rows,
    # so the funnel must attribute them to the first NULL-failing rule,
    # not silently keep them (array_position skips NULL elements).
    idx = F.array_position(
        F.array(
            *[F.coalesce(p.cast("boolean"), F.lit(False)) for _, p in rules]
        ),
        F.lit(False),
    )
    # Chained CASE, not element_at(names, nullable-idx): element_at
    # with a NULL index does not return NULL here (observed returning
    # the last element on pyspark 4.1) — CASE with no otherwise gives
    # the kept rows their NULL explicitly.
    reason = F.when(idx == 1, F.lit(names[0]))
    for i, n in enumerate(names[1:], start=2):
        reason = reason.when(idx == i, F.lit(n))
    return df.withColumn("drop_reason", reason)


def kept(df: DataFrame, rules: Sequence[tuple[str, Column]]) -> DataFrame:
    """Rows passing every rule (drop_reason column removed)."""
    return (
        apply_filters(df, rules)
        .filter(F.col("drop_reason").isNull())
        .drop("drop_reason")
    )


def funnel_report(
    df: DataFrame, rules: Sequence[tuple[str, Column]]
) -> DataFrame:
    """(rule_idx, rule, n_in, n_dropped, n_out) — sequential funnel.

    Rule i's ``n_in`` counts rows surviving rules < i; its ``n_out`` =
    ``n_in - n_dropped`` feeds rule i+1."""
    from pyspark.sql import Window

    tagged = apply_filters(df, rules)
    per_reason = tagged.groupBy("drop_reason").agg(
        F.count("*").alias("n")
    )

    names = [n for n, _ in rules]
    rule_df = local_frame(
        tagged.sparkSession,
        [(i + 1, n) for i, n in enumerate(names)],
        "rule_idx int, rule string",
    )
    total = per_reason.agg(F.sum("n").alias("n_total"))
    # One row per rule: dropped-by-this-rule count, then a running
    # subtraction (window over the R-row table only) yields n_in/n_out.
    joined = (
        rule_df.join(
            per_reason.withColumnRenamed("drop_reason", "rule"),
            "rule",
            "left",
        )
        .withColumn("n_dropped", F.coalesce("n", F.lit(0)))
        .crossJoin(F.broadcast(total))
    )
    w = (
        Window.orderBy("rule_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        joined.withColumn(
            "dropped_before", F.coalesce(F.sum("n_dropped").over(w), F.lit(0))
        )
        .select(
            "rule_idx",
            "rule",
            (F.col("n_total") - F.col("dropped_before")).alias("n_in"),
            "n_dropped",
            (
                F.col("n_total")
                - F.col("dropped_before")
                - F.col("n_dropped")
            ).alias("n_out"),
        )
        .orderBy("rule_idx")
    )
