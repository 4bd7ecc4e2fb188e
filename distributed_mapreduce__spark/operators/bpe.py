"""Trained byte-pair-encoding tokenizer: distributed word-frequency
pass, driver-side merge learning over word TYPES, Arrow-vectorized
application with broadcast merge ranks.

``text_analysis.bpe_ish_token_count`` is the zero-training upper bound
(pre-tokenizer runs only); this module is the real thing a training
pipeline needs — a tokenizer TRAINED ON THE CORPUS so token budgets,
packing (operators/packing.py) and mixture weights (operators/
mixture.py) are measured in the unit the model will actually consume.

Scale shape — the reason this trains at 100 TB:

- The only corpus-sized work is ONE word-frequency aggregation
  (explode pre-tokens → groupBy word → count): a single shuffle whose
  keys are word types, with Catalyst's partial aggregation doing the
  map-side combine. Everything after runs on the WORD-TYPE table
  (Heaps' law: ~10⁵–10⁷ types for any corpus), truncated to the
  ``max_word_types`` most frequent — the standard fastText/GPT-2
  training trick: rare types can't affect early merges, and the
  truncation is by global frequency so it is deterministic.
- Merge learning is a driver-side loop over that bounded dict (the
  classic Sennrich et al. algorithm, pair-count cache updated
  incrementally). It never sees a document.
- Application is embarrassingly parallel: the merge table (~vocab
  rows of string pairs) ships to executors once; each Arrow batch is
  segmented with a per-task memo cache keyed by word type, so the
  per-row cost collapses to a dict hit for every repeated word.

Determinism: pair ties break lexicographically, word-type truncation
ties break lexicographically, and application is a pure function of
(text, merges) — retries and partition changes cannot change output.

Character-level (not byte-level) BPE on the same pre-token classes as
``bpe_ish_token_count`` (letter runs / digit runs / single marks);
tokens never cross pre-token boundaries, so no end-of-word marker is
needed and concatenating a word's tokens reconstructs the word.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, StringType

from ..sources.tables import local_frame

#: pre-tokenizer — the single source: text_analysis.bpe_ish_token_count
#: imports this constant, so its count is this tokenizer's zero-merge
#: upper bound by construction.
PRETOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def pretokens(col: Column | str = "text") -> Column:
    """array<string> of pre-tokens (letter/digit runs, single marks)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(PRETOKEN_RE), 0)


def word_frequencies(
    docs: DataFrame, text_col: str = "text", max_word_types: int = 50_000
) -> list[tuple[str, int]]:
    """The corpus-sized step: (word_type, count) for the
    ``max_word_types`` most frequent pre-token types, ONE shuffle.

    Returned sorted by (-count, word) — the deterministic order the
    learner consumes. The collect is bounded by ``max_word_types``
    (a vocabulary, not a corpus)."""
    freq = (
        docs.select(F.explode(pretokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("w"))
        .limit(max_word_types)
    )
    return [(r.w, r.n) for r in freq.collect()]


def learn_bpe(
    docs: DataFrame,
    text_col: str = "text",
    num_merges: int = 200,
    max_word_types: int = 50_000,
) -> list[tuple[str, str]]:
    """Ordered merge list, most-frequent pair first (Sennrich et al.,
    "Neural Machine Translation of Rare Words with Subword Units").

    Stops early when no pair occurs twice — merging singletons would
    just memorize words."""
    wordfreq = word_frequencies(docs, text_col, max_word_types)
    return learn_bpe_from_frequencies(wordfreq, num_merges)


def learn_bpe_from_frequencies(
    wordfreq: list[tuple[str, int]], num_merges: int
) -> list[tuple[str, str]]:
    """Driver-side merge loop over the bounded word-type table.

    Pair-count MAINTENANCE is incremental: each merge re-scans only
    the words containing the merged pair (indexed), and only pairs
    those words touched are checked for zero-pruning. The best-pair
    SELECTION is a scan of the live pair table — O(|pairs|) per merge,
    which is the right trade below a few thousand merges (this
    engine's use); training a vocab-scale merge count (30k+) wants a
    lazy-deletion heap in place of the scan."""
    words: list[list[str]] = [list(w) for w, _ in wordfreq]
    counts = [n for _, n in wordfreq]
    pair_counts: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[int]] = {}
    touched: set[tuple[str, str]] = set()

    def add_word_pairs(i: int, sign: int) -> None:
        seq = words[i]
        for a, b in zip(seq, seq[1:]):
            p = (a, b)
            pair_counts[p] = pair_counts.get(p, 0) + sign * counts[i]
            touched.add(p)
            if sign > 0:
                pair_words.setdefault(p, set()).add(i)

    for i in range(len(words)):
        add_word_pairs(i, +1)

    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        best = None
        for p, n in pair_counts.items():
            if n >= 2 and (best is None or (-n, p) < (-pair_counts[best], best)):
                best = p
        if best is None:
            break
        merges.append(best)
        merged = best[0] + best[1]
        touched.clear()
        for i in list(pair_words.get(best, ())):
            add_word_pairs(i, -1)
            seq = words[i]
            out: list[str] = []
            j = 0
            while j < len(seq):
                if (
                    j + 1 < len(seq)
                    and seq[j] == best[0]
                    and seq[j + 1] == best[1]
                ):
                    out.append(merged)
                    j += 2
                else:
                    out.append(seq[j])
                    j += 1
            words[i] = out
            add_word_pairs(i, +1)
        # prune zeros among the pairs this merge touched (a full-table
        # rebuild here would cost O(|pairs|) per merge for nothing)
        for p in touched:
            if pair_counts.get(p, 0) <= 0:
                pair_counts.pop(p, None)
    return merges


def _segment_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Greedy lowest-rank-first merging of one pre-token (the standard
    BPE apply: repeatedly merge the best-ranked adjacent pair)."""
    seq = list(word)
    while len(seq) > 1:
        best_j, best_rank = -1, None
        for j in range(len(seq) - 1):
            r = ranks.get((seq[j], seq[j + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_j, best_rank = j, r
        if best_rank is None:
            break
        seq[best_j : best_j + 2] = [seq[best_j] + seq[best_j + 1]]
    return seq


def segment_py(text: str, merges: list[tuple[str, str]]) -> list[str]:
    """Pure-Python reference: tokens for one document (also the unit
    the Arrow path calls per word type, memoized)."""
    ranks = {p: i for i, p in enumerate(merges)}
    out: list[str] = []
    for w in re.findall(PRETOKEN_RE, text):
        out.extend(_segment_word(w, ranks))
    return out


def _doc_segmenter(merges_t, vocab_d=None):
    """Per-task document segmenter shared by the two Arrow UDFs:
    pre-token regex + word-TYPE memo + greedy merge, optionally
    post-mapped to vocab ids (one memoized unit per word either way,
    so segment and encode cannot fork behavior)."""
    ranks = {p: i for i, p in enumerate(merges_t)}
    memo: dict = {}
    pat = re.compile(PRETOKEN_RE)

    def one(t):
        if t is None:
            return []
        out = []
        for w in pat.findall(t):
            got = memo.get(w)
            if got is None:
                toks = _segment_word(w, ranks)
                if vocab_d is not None:
                    toks = [vocab_d.get(tok, 0) for tok in toks]
                got = memo[w] = toks
            out.extend(got)
        return out

    return one


def bpe_segment(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """``docs`` + ``out_col`` array<string>: the trained segmentation,
    Arrow-vectorized. The merge table rides in the task closure
    (vocab-sized — the broadcast analog of the quantize.py codebooks);
    a per-task memo over word TYPES collapses repeated words to a dict
    hit, so hot batches cost O(distinct words), not O(words)."""
    merges_t = tuple(merges)

    @F.pandas_udf(ArrayType(StringType()))
    def seg(texts):
        import pandas as pd

        one = _doc_segmenter(merges_t)
        return pd.Series([one(t) for t in texts])

    return docs.withColumn(out_col, seg(F.col(text_col)))


def bpe_token_counts(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
) -> DataFrame:
    """``docs`` + ``bpe_token_count`` int — the trained-tokenizer
    budget column (feeds packing / chunking / mixture the way
    ``bpe_ish_token_count`` feeds them untrained)."""
    return bpe_segment(docs, merges, text_col).select(
        "*", F.size("bpe_tokens").alias("bpe_token_count")
    ).drop("bpe_tokens")


def save_merges(spark, merges: list[tuple[str, str]], path: str) -> None:
    """Persist the merge table as (rank, left, right) parquet — the
    train-once/apply-everywhere artifact (the analog of a tokenizer's
    merges.txt). Rank order IS the tokenizer; the loader restores it."""
    local_frame(
        spark,
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank int, left string, right string",
    ).write.mode("overwrite").parquet(path)


def load_merges(spark, path: str) -> list[tuple[str, str]]:
    """Inverse of :func:`save_merges` (rank-ordered)."""
    rows = spark.read.parquet(path).orderBy("rank").collect()
    return [(r.left, r.right) for r in rows]


def vocab_from_merges(
    wordfreq: list[tuple[str, int]], merges: list[tuple[str, str]]
) -> dict[str, int]:
    """token -> id: the deterministic vocabulary a merge table induces —
    id 0 is ``<unk>``, then the corpus alphabet (sorted), then one
    token per merge in rank order (the standard BPE vocab layout).

    Built from the same word-frequency table the learner consumed, so
    train-time and apply-time vocabularies agree by construction."""
    alphabet = sorted({ch for w, _ in wordfreq for ch in w})
    vocab = {"<unk>": 0}
    for ch in alphabet:
        vocab[ch] = len(vocab)
    for a, b in merges:
        tok = a + b
        if tok not in vocab:
            vocab[tok] = len(vocab)
    return vocab


def bpe_encode_ids(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    vocab: dict[str, int],
    text_col: str = "text",
    out_col: str = "token_ids",
) -> DataFrame:
    """``docs`` + ``out_col`` array<int>: segment then map tokens to
    vocabulary ids (``<unk>``=0 for anything outside the vocab — only
    possible for characters unseen at train time, since every merge
    product is in the vocab).

    One Arrow pass does both segmentation and id lookup: the vocab
    rides next to the merge table in the task closure and each lookup
    is a Python dict hit, memoized per word TYPE like
    :func:`bpe_segment`. (A JVM-side map literal was measured out:
    Spark's ``GetMapValue`` on a literal map is a LINEAR scan of the
    key array, so per-token cost would grow with |vocab|.)"""
    merges_t = tuple(merges)
    vocab_d = dict(vocab)

    @F.pandas_udf(ArrayType(IntegerType()))
    def enc(texts):
        import pandas as pd

        one = _doc_segmenter(merges_t, vocab_d)
        return pd.Series([one(t) for t in texts])

    return docs.withColumn(out_col, enc(F.col(text_col)))
