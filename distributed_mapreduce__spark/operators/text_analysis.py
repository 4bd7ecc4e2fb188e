"""Text-analysis operators (north-star E4): language ID, quality
scoring, token counting, document fingerprinting.

All pure column algebra (regexp/array/fold built-ins) — JVM-side,
codegen-friendly, no Python UDFs. Ratios divide exact integer counts, so
the doubles are engine-identical (same two ints → same IEEE quotient).

Scale: every operator here is embarrassingly parallel (per-document,
no shuffle at all until an aggregation is requested) — the ideal shape
for a 100 TB corpus scan: one pass, predicate/column pruning applies,
and the only exchanges are the small per-group rollups.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.tables import local_frame

# Tiny per-language signature-word profiles for the n-gram/word heuristic
# language identifier. Deliberately minimal — the operator's shape (profile
# join + per-doc argmax) is what scales; production swaps in real profiles.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "is", "and", "of"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "los", "es", "y"),
    "fr": ("le", "la", "les", "est", "et"),
}

# Rolling-hash parameters (fingerprinting): h = (h*131 + ord(ch)) mod (2^31-1).
# The modulus keeps every intermediate < 2^63 so 64-bit arithmetic never
# overflows in any engine.
FP_BASE = 131
FP_MOD = 2_147_483_647


def ws_tokens(col: str = "text") -> Column:
    """Whitespace tokenization (normalized split — engine-portable)."""
    return F.split(F.regexp_replace(F.trim(F.col(col)), r"\s+", " "), " ")


def quality_expr(col: str = "text") -> Column:
    """Composite quality score as a pure column expression:
    alpha_ratio × min(1, n_tokens/20) — penalizes symbol soup and very
    short documents; fixed left-to-right arithmetic on exact counts.
    Shared by :func:`token_stats` and the corpus pipeline."""
    toks = ws_tokens(col)
    n_tokens = F.size(toks)
    n_chars = F.length(col)
    n_alpha = F.size(F.regexp_extract_all(F.col(col), F.lit(r"[A-Za-z]"), 0))
    # try_divide: empty docs (n_chars=0) yield NULL instead of an ANSI
    # DIVIDE_BY_ZERO error — same 0-divisor semantics as DuckDB.
    return F.try_divide(n_alpha, n_chars) * F.least(
        F.lit(1.0), n_tokens / F.lit(20.0)
    )


def token_stats(docs: DataFrame) -> DataFrame:
    """Per-doc token/char statistics + a composite quality score
    (:func:`quality_expr`)."""
    from ..plans.partitioning import spread

    docs = spread(docs)
    toks = ws_tokens()
    n_tokens = F.size(toks)
    n_chars = F.length("text")
    n_alpha = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[A-Za-z]"), 0))
    n_punct = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(r"[^A-Za-z0-9\s]"), 0)
    )
    total_tok_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    return docs.select(
        "doc_id",
        "lang",
        "source",
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars"),
        F.try_divide(total_tok_len, n_tokens).alias("avg_token_len"),
        F.try_divide(n_alpha, n_chars).alias("alpha_ratio"),
        F.try_divide(n_punct, n_chars).alias("punct_ratio"),
        quality_expr().alias("quality_score"),
    )


def bpe_ish_token_count(col: str = "text") -> Column:
    """Sub-word-ish token count: letter runs, digit runs, and single
    non-alnum marks (a BPE pre-tokenizer's coarse upper bound).

    Single-sourced from ``bpe.PRETOKEN_RE`` so this stays, by
    construction, the zero-merge count of the trained tokenizer."""
    from .bpe import PRETOKEN_RE

    return F.size(F.regexp_extract_all(F.col(col), F.lit(PRETOKEN_RE), 0))


def language_profiles_df(spark) -> DataFrame:
    """(plang, pword) long-form profile table (broadcast-sized)."""
    rows = [(lang, w) for lang, words in LANG_PROFILES.items() for w in words]
    return local_frame(spark, rows, "plang string, pword string")


def lang_id(docs: DataFrame, profiles: DataFrame) -> DataFrame:
    """Heuristic language ID: count profile-word hits per language, pick
    the argmax (count desc, language asc tie-break); docs with zero hits
    → 'und' (undetermined). One broadcast join + one small shuffle."""
    from pyspark.sql import Window

    from ..plans.partitioning import spread

    tokens = spread(docs).select(
        "doc_id", "lang", F.explode(ws_tokens()).alias("tok")
    )
    hits = (
        tokens.join(F.broadcast(profiles), F.col("tok") == F.col("pword"))
        .groupBy("doc_id", "plang")
        .agg(F.count("*").alias("n_hits"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("n_hits"), F.asc("plang"))
    best = (
        hits.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("plang").alias("pred_lang"), "n_hits")
    )
    return (
        docs.select("doc_id", "lang")
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce("pred_lang", F.lit("und")).alias("pred_lang"),
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
        )
    )


def rolling_fingerprint(docs: DataFrame, col: str = "text") -> DataFrame:
    """Per-doc polynomial rolling hash over characters (left fold):
    h_i = (h_{i-1}·131 + ord(ch_i)) mod (2^31-1). Order-sensitive by
    construction (unlike md5-of-text it extends to windowed winnowing:
    the same fold over k-char windows; see :func:`winnow_fingerprints`
    for that generalization).

    Unicode contract: ``split('')`` and ``ascii()`` operate on full
    code points (astral-plane chars included), matching DuckDB's
    string_split/ord — tests/test_text_analysis.py pins the cross-engine
    equality on non-ASCII and emoji inputs."""
    from ..plans.partitioning import spread

    chars = F.split(F.col(col), "")
    return spread(docs).select(
        "doc_id",
        F.aggregate(
            chars,
            F.lit(0).cast("long"),
            lambda acc, ch: (acc * FP_BASE + F.ascii(ch)) % FP_MOD,
        ).alias("fingerprint"),
    )


def winnow_fingerprints(docs: DataFrame, k: int = 3, w: int = 4) -> DataFrame:
    """Winnowing (Schleimer/Wilkerson/Aiken): per document, hash the
    positional k-gram shingles, then keep the MIN hash of every window
    of ``w`` consecutive shingles; the distinct mins are the document's
    fingerprint set. Guarantees any shared run of ≥ w+k-1 tokens yields
    a shared fingerprint — the local-similarity detector that a single
    whole-document hash can't provide.

    Pure window algebra (one shuffle on doc_id); hashes are the portable
    60-bit-md5-mod-p family, so the oracle replays it exactly.
    """
    from pyspark.sql import Window

    from ..plans.partitioning import spread

    toks = spread(docs).select(
        "doc_id",
        F.split(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "), " ").alias("toks"),
    )
    grams = ", ".join(f"toks[i+{j}]" for j in range(k))
    hashed = (
        toks.filter(F.size("toks") >= k)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, size(toks)-{k}), i -> concat_ws(' ', {grams}))"
                )
            ).alias("pos", "shingle"),
        )
        .select(
            "doc_id",
            "pos",
            (
                F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("long")
                % F.lit(FP_MOD)
            ).alias("h"),
        )
    )
    per_doc = Window.partitionBy("doc_id")
    win = per_doc.orderBy("pos").rowsBetween(0, w - 1)
    return (
        hashed.withColumn("n", F.count("*").over(per_doc))
        .withColumn("fp", F.min("h").over(win))
        .filter(F.col("pos") <= F.col("n") - w)  # full windows only (0-based)
        .select("doc_id", "fp")
        .distinct()
    )


def compression_ratio(
    docs: DataFrame, text_col: str = "text", level: int = 6
) -> DataFrame:
    """``docs`` + ``compressed_len``/``compression_ratio`` (zlib level
    ``level``, ratio = compressed/raw UTF-8 bytes; NULL for NULL text,
    ratio NULL for empty text).

    The deflate-ratio quality signal (used by Gopher-lineage cleaning
    stacks): machine-generated or highly repetitive pages compress far
    below prose (~0.3–0.6 for natural text; near 0 for template spam),
    catching junk the word-level heuristics in :func:`token_stats`
    miss. Complements ``repetition.py`` (which counts exact dup
    lines/words) with a model-free whole-document redundancy measure.

    zlib is not expressible in Spark SQL, so this is one of the few
    Python paths in the engine — an Arrow-batched ``pandas_udf``
    (never row-at-a-time), pure per-row compute: no shuffle, scales
    embarrassingly. Output is deterministic for a given zlib version
    (RFC 1950 stream, fixed level) — the test replays it bit-exact in
    Python."""
    import pandas as pd  # noqa: F401 (documents the batch unit)
    from pyspark.sql.types import IntegerType

    @F.pandas_udf(IntegerType())
    def clen(texts):
        import zlib

        import pandas as pd

        return pd.Series(
            [
                None if t is None else len(zlib.compress(t.encode("utf-8"), level))
                for t in texts
            ],
            dtype="Int32",
        )

    raw_len = F.length(F.encode(F.col(text_col), "UTF-8"))
    return docs.withColumn("compressed_len", clen(F.col(text_col))).withColumn(
        "compression_ratio",
        F.try_divide(F.col("compressed_len").cast("double"), raw_len),
    )
