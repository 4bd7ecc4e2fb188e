"""Approximate string join (record linkage / entity resolution).

"Join customers to suppliers where the name is within 2 edits" is the
classic fuzzy-key join; the naive form is an all-pairs Levenshtein —
quadratic and untenable. The scale shape is the same
candidate-restrict pattern as the engine's LSH/Misra–Gries families,
built from published results:

1. **global common-affix trimming** (the standard edit-distance DP
   lemma: ``ed(cx, cy) = ed(x, y)`` — every Levenshtein implementation
   trims pairwise common prefixes/suffixes before filling the matrix).
   Applied set-wide: the common prefix of ALL keys is the common
   prefix of the lexicographic min and max key (one tiny aggregation;
   same for the suffix via reversed keys), and any pair's pairwise
   common affixes include the global ones, so stripping them preserves
   every pairwise distance exactly. On template keys
   ("Customer#000000001"…) this cuts the verify from an O(|18|²) DP to
   O(|5|²) and every candidate/shuffle row to the discriminative core;
   on high-entropy keys the affixes are empty and the step is a no-op
   (one extra min/max pass over the distinct-key set).
2. **q-gram blocking with PREFIX FILTERING** (Gravano et al. 2001 for
   the gram bound; Chaudhuri/Ganti/Kaushik 2006 "A primitive operator
   for similarity joins" for the prefix filter). ``ed(s,t) ≤ d``
   destroys at most ``q·d`` of s's padded q-grams, so t's gram set
   misses at most ``q·d`` of them — meaning t must contain at least
   one of ANY ``q·d + 1`` grams of s. Pick those ``q·d + 1`` grams as
   the GLOBALLY RAREST (one gram-frequency aggregation defines the
   canonical order): by the prefix-filter theorem the two keys'
   prefixes must intersect, so candidates come from an equi-join on
   prefix grams only. This is not an optimization nicety but the
   difference between linear and quadratic on real data: TEMPLATE
   keys share ~all their grams, and a join on every gram degenerates
   to all-pairs via the hot shared grams — measured as a multi-minute
   hang at just 15k fixture names. Rare grams (the digits that
   differ) carry tiny buckets by construction.
3. **exact verify** — ``levenshtein() ≤ d`` on the candidates only
   (plus the ``|len(s)-len(t)| ≤ d`` band, an edit-distance
   invariant, to skip hopeless DPs). Both engines ship the same
   Levenshtein, so the operator's output replays in the DuckDB oracle
   (the registered oracle is the brute-force all-pairs join — a hash
   match proves the blocking lost nothing). Verification runs BEFORE
   the candidate de-dup: post-trim the DP is a few dozen cells, so
   re-verifying a duplicate candidate (≤ prefix_len copies) is far
   cheaper than a distinct() shuffle of the whole candidate stream —
   only the verified survivors (output-sized) pay the exchange.

Completeness: EXACT for every pair, via two routes. Cores with more
than ``q·d`` padded grams (length > ``q·(d-1)+1``) are covered by the
prefix theorem — d edits destroy at most ``q·d`` grams, so at least
one prefix gram survives into the other key's gram set. Cores at or
below that length can lose their ENTIRE gram set to d edits (the
review-caught gap: 'a'~'b' at d=1 shares zero grams), so the SHORT
cores take a fallback: cross-join them against the length-band
``len ≤ short_max + d`` of the other side (|len(s)-len(t)| ≤ d is an
edit-distance invariant) and verify directly. The short subset is
bounded by the alphabet (|Σ|^short_max distinct cores); on real key
data it is empty or tiny, and the test gate includes 1–2 char keys in
the brute-force-equality check.

Parallelism (round-16, guide §2.4/§2.5 + the AQE caveat): the
prefix-gram equi-join EXPANDS — its output (candidate pairs) is orders
of magnitude larger than its inputs (keys × prefix grams). AQE's
size-based coalescing only sees the input bytes, so it folded the
entire expansion + Levenshtein verify onto ONE task (measured: 253 s
at sf0.1, single-task stages). Both join sides are therefore
explicitly hash-repartitioned on the gram to session parallelism —
an explicit repartition AQE respects — so the expansion and verify
run wide. Self-joins (left is right on the same key) additionally
build the distinct-key set and the prefix-gram table ONCE
(localCheckpoint'ed per run — an intermediate, never a cross-run
cache) instead of evaluating both subtrees twice.

Scale: one distinct pass per side, one min/max affix aggregation, one
gram-frequency aggregation (gram-vocabulary-sized), one unhinted join
to attach frequencies (AQE broadcasts the vocab when it fits), a
per-key top-(q·d+1) window over ≤ |core|+q-1 rows, then the
prefix-gram equi-join whose buckets are rare by construction. The
verify runs inside the join stage; only verified pairs are shuffled
for the final de-dup.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def fuzzy_key_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    max_distance: int = 2,
    q: int = 2,
) -> DataFrame:
    """(left_key, right_key, distance ≤ max_distance): all
    cross-product pairs within the edit-distance budget, via global
    affix trimming + rarest-gram prefix blocking + exact Levenshtein
    verify (module docstring). Keys are compared as DISTINCT strings —
    join the result back to recover rows. NULL keys never match."""
    d, qq = int(max_distance), int(q)
    if d < 0 or qq < 1:
        raise ValueError(f"need max_distance >= 0 and q >= 1, got {d}, {qq}")
    pad = "#" * (qq - 1)
    prefix_len = qq * d + 1
    par = left.sparkSession.sparkContext.defaultParallelism
    self_join = left is right and left_key == right_key

    def keyset(df: DataFrame, key: str, side: str) -> DataFrame:
        return (
            df.select(F.col(key).cast("string").alias(side))
            .filter(F.col(side).isNotNull())
            .distinct()
            .localCheckpoint(eager=False)  # shared by affix agg, grams,
        )  # short probes and bands — one distinct pass per run

    lraw = keyset(left, left_key, "lkey")
    rraw = (
        lraw.withColumnRenamed("lkey", "rkey")
        if self_join
        else keyset(right, right_key, "rkey")
    )

    # ---- global common-affix trim (exact; module docstring §1). The
    # common prefix of a string SET is the common prefix of its
    # lexicographic min and max (any key sorts between them, so it
    # shares every char they agree on); the common suffix is the same
    # computation over reversed keys. One driver-side row per side —
    # the per-side min LENGTH also answers the short-core fallback
    # gate below, replacing what used to be two probe jobs. The lemma
    # needs Spark's min/max to order by code point, as the Python
    # commonprefix below compares: a session default collation such as
    # UTF8_LCASE orders 'a' and 'B' otherwise and would trim characters
    # some keys do not share. So the extremes are taken over the keys
    # collated UTF8_BINARY, whatever the session default.
    def affix_stats(keys: DataFrame, side: str):
        b = F.collate(F.col(side), "UTF8_BINARY")
        return keys.agg(
            F.min(b),
            F.max(b),
            F.min(F.reverse(b)),
            F.max(F.reverse(b)),
            F.min(F.length(side)),
        ).first()

    lstat = affix_stats(lraw, "lkey")
    rstat = lstat if self_join else affix_stats(rraw, "rkey")
    # union affixes = the common part of the two per-side affixes
    pre = os.path.commonprefix(
        [
            os.path.commonprefix([lstat[0] or "", lstat[1] or ""]),
            os.path.commonprefix([rstat[0] or "", rstat[1] or ""]),
        ]
        if lstat[0] is not None and rstat[0] is not None
        else [
            os.path.commonprefix([s[0] or "", s[1] or ""])
            for s in (lstat, rstat)
            if s[0] is not None
        ]
        or [""]
    )
    suf = os.path.commonprefix(
        [
            os.path.commonprefix([lstat[2] or "", lstat[3] or ""]),
            os.path.commonprefix([rstat[2] or "", rstat[3] or ""]),
        ]
        if lstat[2] is not None and rstat[2] is not None
        else [
            os.path.commonprefix([s[2] or "", s[3] or ""])
            for s in (lstat, rstat)
            if s[2] is not None
        ]
        or [""]
    )[::-1]
    min_len = min(
        (s[4] for s in (lstat, rstat) if s[4] is not None), default=0
    )
    # never let prefix+suffix overlap inside the shortest key (a
    # truncated common suffix is still a common suffix)
    suf = suf[max(0, len(pre) + len(suf) - min_len):]

    def core(side: str):  # keys -> discriminative cores (injective)
        return F.expr(
            f"substring({side}, {len(pre) + 1}, "
            f"greatest(length({side}) - {len(pre) + len(suf)}, 0))"
        ).alias(side)

    lkeys = lraw.select(core("lkey"))
    rkeys = rraw.select(core("rkey"))

    def grams(keys: DataFrame, side: str) -> DataFrame:
        arr = F.expr(
            f"transform(sequence(1, greatest(length(concat('{pad}', {side}, "
            f"'{pad}')) - {qq - 1}, 1)), "
            f"i -> substring(concat('{pad}', {side}, '{pad}'), i, {qq}))"
        )
        return keys.select(side, F.explode(F.array_distinct(arr)).alias("g"))

    lg = grams(lkeys, "lkey")
    rg = None if self_join else grams(rkeys, "rkey")

    # canonical gram order = global frequency across BOTH sides (ties
    # by gram string): the prefix-filter theorem needs one shared
    # order, and rarest-first makes prefix buckets small. A self-join
    # counts each side once — every frequency is exactly half the
    # two-sided count, so the order (and the selected prefixes) is
    # identical.
    freq = (
        (lg.select("g") if self_join else lg.select("g").unionAll(rg.select("g")))
        .groupBy("g")
        .agg(F.count("*").alias("gfreq"))
    )

    def prefix(gr: DataFrame, side: str) -> DataFrame:
        w = Window.partitionBy(side).orderBy(F.asc("gfreq"), F.asc("g"))
        return (
            gr.join(freq, "g")  # unhinted: AQE broadcasts small vocabs
            .repartition(par, side)  # wide window (AQE would coalesce)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= prefix_len)
            .select(side, "g")
            # pin the expanding equi-join wide: explicit hash exchanges
            # on the join key are reused by the join and exempt from
            # AQE coalescing (module docstring, Parallelism)
            .repartition(par, "g")
        )

    lp = prefix(lg, "lkey")
    if self_join:
        # one evaluation of the gram/frequency/window pipeline feeds
        # both join sides (per-run intermediate, not a cross-run cache)
        lp = lp.localCheckpoint(eager=False)
        rp = lp.toDF("rkey", "g")
    else:
        rp = prefix(rg, "rkey")

    cands = lp.join(rp, "g").select("lkey", "rkey")

    # short-key fallback (module docstring): cores with <= q*d grams can
    # lose every gram to d edits — cross them against the other side's
    # +-d length band and let the verify decide. Alphabet-bounded tiny.
    short_max = qq * (d - 1) + 1
    if short_max >= 1:
        # the gate rides the affix aggregation already paid: a side
        # has short CORES iff its min key length minus the global
        # affixes is <= short_max (core length = key length - |pre| -
        # |suf| for every key). Inputs WITHOUT short cores (the normal
        # case) keep a cartesian-free plan, now with zero probe jobs.
        trim = len(pre) + len(suf)
        has_short = any(
            s[4] is not None and s[4] - trim <= short_max
            for s in (lstat, rstat)
        )
        if has_short:
            ls = lkeys.filter(F.length("lkey") <= short_max)
            rs = rkeys.filter(F.length("rkey") <= short_max)
            lband = lkeys.filter(F.length("lkey") <= short_max + d)
            rband = rkeys.filter(F.length("rkey") <= short_max + d)
            cands = cands.unionByName(ls.crossJoin(rband)).unionByName(
                lband.crossJoin(rs)
            )

    return (
        cands
        # length band first (ed invariant), then the DP — both run
        # inside the join stage; only survivors reach the exchange.
        # The threshold form computes a banded DP (O(d·len), not
        # O(len²)) and returns -1 above the budget — exact below it.
        .filter(F.abs(F.length("lkey") - F.length("rkey")) <= F.lit(d))
        .withColumn(
            "distance", F.levenshtein(F.col("lkey"), F.col("rkey"), d)
        )
        .filter((F.col("distance") >= 0) & (F.col("distance") <= F.lit(d)))
        .distinct()
        .select(
            F.concat(F.lit(pre), F.col("lkey"), F.lit(suf)).alias(
                left_key + "_l"
            ),
            F.concat(F.lit(pre), F.col("rkey"), F.lit(suf)).alias(
                right_key + "_r"
            ),
            "distance",
        )
    )
