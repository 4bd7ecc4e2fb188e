"""Domain-mixture resampling (training-data composition control).

Corpora arrive with whatever domain/language proportions the crawl
produced; training wants a *chosen* mixture. ``resample_to_mixture``
downsamples each group so the output matches target proportions while
keeping as much data as possible:

    T        = min_g  n_g / p_g        (largest total the data allows)
    rate_g   = p_g · T / n_g           (≤ 1 by construction)
    keep row ⇔ hash_uniform(key) < rate_g

Acceptance is content-addressed (:func:`..operators.sampling.
hash_uniform`): a row's fate depends only on its key — reproducible
under task retries, repartitioning, and corpus growth, and replayable
in any engine (the DuckDB oracle in tests/test_mixture.py recomputes
the identical decision). Groups absent from ``weights`` are dropped
(the "exclude this domain" case).

Scale shape: per-group counts are a grouped count whose result is
domain-cardinality-sized (tiny); T is a 1-row aggregate of that; rates
broadcast-join back onto the corpus. The corpus itself is touched by
exactly ONE projection-filter pass — no shuffle of data rows, no
driver collect, no RNG state. Bernoulli acceptance gives proportions
exact in expectation with √n noise; when per-group counts must be
exact, use :func:`..operators.sampling.stratified_quota` with
per-group quotas ``round(p_g · T)`` instead (costs a shuffle on the
group key).

Float discipline: every engine computes ``n / p``, ``min``, and
``(p · T) / n`` over the same operands in the same order, so the
doubles — and therefore the kept-row set — are bit-identical
cross-engine (same contract as the rest of the sampling family).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.tables import local_frame
from .sampling import hash_uniform


def mixture_rates(
    df: DataFrame,
    group_col: str,
    weights: Mapping[str, float],
    validate: bool = True,
) -> DataFrame:
    """(group, n, rate): per-group acceptance rates for the mixture.

    Tiny result (one row per group in ``weights``); fully distributed
    — the min-over-groups scalar rides a 1-row cross join.

    ``validate=True`` (default) runs one extra group-cardinality
    action to catch weighted groups with ZERO rows in the data: such a
    group would silently drop out of the ``min(n/p)`` and the output
    mixture would no longer match the requested proportions (the
    target is unattainable — n_g·(p_h/p_g) rows of every other group
    h would be needed per missing-group row). Raises ``ValueError``
    naming the empty groups. Pass ``validate=False`` to skip the extra
    pass when the group inventory is already known."""
    spark = df.sparkSession
    total = float(sum(weights.values()))
    wdf = local_frame(
        spark,
        [(g, w / total) for g, w in weights.items()],
        f"{group_col} string, p double",
    )
    counts = (
        df.groupBy(group_col)
        .agg(F.count("*").alias("n"))
        .join(F.broadcast(wdf), group_col)
    )
    if validate:
        present = {r[0] for r in counts.select(group_col).collect()}
        missing = sorted(set(weights) - present)
        if missing:
            raise ValueError(
                f"mixture groups with zero rows in data: {missing} — "
                "the requested mixture is unattainable (their n/p would "
                "be 0); drop them from weights or fix the corpus"
            )
    t = counts.agg(F.min(F.col("n") / F.col("p")).alias("t"))
    return counts.crossJoin(F.broadcast(t)).select(
        group_col,
        "n",
        ((F.col("p") * F.col("t")) / F.col("n")).alias("rate"),
    )


def resample_to_mixture(
    df: DataFrame,
    group_col: str,
    weights: Mapping[str, float],
    key: Column | str,
    seed: int = 0,
    validate: bool = True,
) -> DataFrame:
    """Downsample ``df`` to the target group mixture (see module doc)."""
    rates = mixture_rates(df, group_col, weights, validate=validate)
    return (
        df.join(F.broadcast(rates.select(group_col, "rate")), group_col)
        .filter(hash_uniform(key, seed) < F.col("rate"))
        .drop("rate")
    )
