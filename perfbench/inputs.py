"""Seeded input generation for the two workloads.

Everything here runs in the benchmark's own process before the program
starts; the program only ever sees the files written under ``inputs/``.
The same seed gives byte-identical inputs. Sizes depend only on the
workload and its pass count, never on the seed, so seeds vary content,
never volume.

Each generator returns the oracle the result checks need (expected
top-k, dedup survivors, the model's snapshots, ...) alongside the files.
"""

from __future__ import annotations

import datetime as dt
import os
import re
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# --- batch: the corpus ------------------------------------------------------

CORPUS_DOCS = 2000
CORPUS_VOCAB = 5000
CORPUS_NEAR_PAIRS = 80
CORPUS_EXACT_COPIES = 30
TOP_K = 10
#: ``operators.corpus.DEFAULT_SPLITS``, restated as the check's expectation
DEFAULT_SPLITS = {"train": 0.9, "val": 0.05, "test": 0.05}
#: ``functions/textnorm`` rules: Go ``strings.Fields`` then
#: ``strings.ToLower(strings.Trim(w, cutset))``
PUNCT_CUTSET = ".,!?:;\"'"


def norm_word(tok: str) -> str:
    return tok.strip(PUNCT_CUTSET).lower()


def counter_top_k(texts, k: int) -> list[tuple[str, int]]:
    """Top-k (word, count) by count desc, word asc: the reference
    dataflow computed with a Python ``Counter``."""
    counts = Counter(w for t in texts for w in map(norm_word, t.split()) if w)
    return sorted(counts.items(), key=lambda wc: (-wc[1], wc[0]))[:k]


def normalized_text(text: str) -> str:
    """``operators.dedup.normalized_text``: lower, trim, collapse spaces."""
    return re.sub(r"\s+", " ", text.lower().strip())


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters, rng.integers(2, 10))))
    return sorted(words)


def _decorate(rng: np.random.Generator, words: list[str]) -> list[str]:
    """Punctuation and capitals on a few tokens, so the normalization
    rules matter to the count."""
    out = []
    for w in words:
        r = rng.random()
        if r < 0.06:
            w = w + rng.choice([",", ".", "!", "?", ";", ":"])
        elif r < 0.08:
            w = '"' + w + '"'
        elif r < 0.11:
            w = w.capitalize()
        out.append(w)
    return out


def gen_corpus(rng: np.random.Generator, out_dir: str) -> dict:
    vocab = np.array(_vocab(rng, CORPUS_VOCAB))
    ranks = np.arange(1, CORPUS_VOCAB + 1)
    p = 1.0 / ranks**1.1
    p /= p.sum()
    n_base = CORPUS_DOCS - CORPUS_NEAR_PAIRS - CORPUS_EXACT_COPIES
    texts = []
    for _ in range(n_base):
        n = int(rng.integers(50, 110))
        texts.append(" ".join(_decorate(rng, list(rng.choice(vocab, n, p=p)))))
    # near-duplicates: a copy of an earlier doc with two words replaced,
    # which exact dedup must keep
    for src in rng.choice(n_base, CORPUS_NEAR_PAIRS, replace=False):
        toks = texts[src].split(" ")
        for pos in rng.choice(len(toks), 2, replace=False):
            toks[pos] = str(rng.choice(vocab[:200]))
        texts.append(" ".join(toks))
    # exact duplicates up to case and spacing: prepare_corpus keeps one
    for src in rng.choice(n_base, CORPUS_EXACT_COPIES, replace=False):
        texts.append("  " + texts[src].upper().replace(" ", "  ", 3))
    langs = rng.choice(["en", "de", "fr", "es", "zh"], len(texts),
                       p=[0.5, 0.125, 0.125, 0.125, 0.125])
    table = pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
    })
    pq.write_table(table, os.path.join(out_dir, "corpus.parquet"))
    survivors: dict[str, int] = {}
    for doc_id, t in enumerate(texts):
        survivors.setdefault(normalized_text(t), doc_id)
    return {
        "top_k": [list(wc) for wc in counter_top_k(texts, TOP_K)],
        "survivor_ids": sorted(survivors.values()),
        "texts": texts,
    }


# --- txn_churn ---------------------------------------------------------------

TXN_SEED_ROWS = 20000
TXN_APPEND_ROWS = 1500
TXN_MERGE_ROWS = 800
TXN_SCHEMA = pa.schema([
    ("row_id", pa.int64()), ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
    ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()),
    ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()),
    ("l_returnflag", pa.string()),
])


def txn_ops(cycle: int) -> dict:
    """The SQL the churn cycle runs; the pandas model below mirrors it."""
    return {
        "update_where": f"row_id % 53 = {cycle}",
        "update_set": {"l_quantity": "l_quantity + 1",
                       "l_returnflag": "'U'"},
        "delete_where": f"row_id % 61 = {cycle + 7}",
    }


def txn_read_agg(df: pd.DataFrame) -> list[tuple]:
    """The snapshot-read aggregate, computed on the model."""
    g = df.groupby("l_returnflag").agg(
        n=("row_id", "size"), qty=("l_quantity", "sum"),
        price=("l_extendedprice", "sum"))
    return [(k, int(r.n), float(r.qty), float(r.price)) for k, r in g.sort_index().iterrows()]


def _txn_rows(rng: np.random.Generator, ids: np.ndarray) -> pd.DataFrame:
    n = len(ids)
    return pd.DataFrame({
        "row_id": ids.astype("int64"),
        "l_orderkey": rng.integers(0, 150_000, n).astype("int64"),
        "l_partkey": rng.integers(0, 20_000, n).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n).astype("int32"),
        "l_quantity": rng.integers(1, 51, n).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
    })


def _write(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, TXN_SCHEMA, preserve_index=False), path)


def gen_txn(rng: np.random.Generator, out_dir: str, cycles: int) -> dict:
    """The seed table and each cycle's append and merge batches, with the
    pandas model of the table after every cycle."""
    next_id = TXN_SEED_ROWS
    model = _txn_rows(rng, np.arange(TXN_SEED_ROWS))
    _write(model, os.path.join(out_dir, "seed.parquet"))
    reads = []
    for c in range(cycles):
        ops = txn_ops(c)
        app = _txn_rows(rng, np.arange(next_id, next_id + TXN_APPEND_ROWS))
        next_id += TXN_APPEND_ROWS
        _write(app, os.path.join(out_dir, f"append_{c}.parquet"))
        model = pd.concat([model, app], ignore_index=True)
        hit = model.row_id % 53 == c
        model.loc[hit, "l_quantity"] += 1
        model.loc[hit, "l_returnflag"] = "U"
        model = model[~(model.row_id % 61 == c + 7)].reset_index(drop=True)
        # merge: half the keys exist (updated), half are new (inserted)
        old = rng.choice(model.row_id.to_numpy(), TXN_MERGE_ROWS // 2, replace=False)
        new = np.arange(next_id, next_id + TXN_MERGE_ROWS // 2)
        next_id += TXN_MERGE_ROWS // 2
        ups = _txn_rows(rng, np.concatenate([old, new]))
        _write(ups, os.path.join(out_dir, f"merge_{c}.parquet"))
        model = pd.concat([model[~model.row_id.isin(ups.row_id)], ups],
                          ignore_index=True)
        reads.append(txn_read_agg(model))
    return {"reads": reads, "final": model.sort_values("row_id").reset_index(drop=True)}


# --- batch: the headline tables ----------------------------------------------

#: ``bench.py`` HEADLINE, copied so the workload stays fixed if that list moves.
HEADLINE = [
    "wordcount_full", "wordcount_topk", "wordcount_salted", "pricing_summary",
    "revenue_by_nation", "topk_parts_per_brand", "sql_unshipped_revenue",
    "quantile_quantity", "customer_order_timeline", "dedup_exact",
    "dedup_minhash_pairs", "similarity_topk", "similarity_topk_lsh_multiprobe",
    "text_quality", "doc_winnow", "events_tumbling", "events_sessions",
    "events_asof_orders",
]
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
TPCH_ROWS = {"customer": 300, "supplier": 20, "part": 400, "orders": 3000}
N_EVENTS, N_DOCS, N_VECS, DIM = 2000, 500, 500, 64
DOC_WORDS = ("join hash row batch scan column customer filter small slow merge "
             "order vector line table data agg value key stream window a spark "
             "part group big sort query fast the").split()


def _ts(days: np.ndarray, base: dt.datetime) -> pa.Array:
    us = (days * 86_400e6).astype("int64") + int(base.timestamp() * 1e6)
    return pa.array(us, pa.timestamp("us"))


def gen_tables(rng: np.random.Generator, out_dir: str) -> dict:
    """The ten star-schema tables the headline queries read, with the
    column types and value ranges of the engine's fixture tables. The
    oracle is each query's own SQL, so nothing is returned for it."""
    C, S, P, O = (TPCH_ROWS[t] for t in ("customer", "supplier", "part", "orders"))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    money = lambda lo, hi, n: pa.array(np.round(rng.uniform(lo, hi, n), 2), f64)
    base = dt.datetime(1995, 1, 1, tzinfo=dt.timezone.utc)
    o_days = rng.integers(0, 2404, O)
    lines = rng.integers(1, 8, O)
    l_order = np.repeat(np.arange(O), lines)
    L = len(l_order)
    adjs = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
    nouns = ["bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "gizmo"]
    labels = rng.integers(0, 10, N_VECS)
    emb = rng.normal(size=(10, DIM))[labels] + 0.6 * rng.normal(size=(N_VECS, DIM))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype("float32")
    docs = []
    for _ in range(N_DOCS - 25):
        docs.append(" ".join(rng.choice(DOC_WORDS, int(rng.integers(10, 100)))))
    for src in rng.choice(len(docs), 25, replace=False):
        docs.append(docs[src] + " dup" * int(rng.integers(1, 3)))
    order = rng.permutation(len(docs))
    docs = [docs[i] for i in order]
    ev_days = np.sort(rng.uniform(0, 30, N_EVENTS))
    tables = {
        "region": {"r_regionkey": pa.array(range(5), i32),
                   "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                       "MIDDLE EAST"], s)},
        "nation": {"n_nationkey": pa.array(range(25), i32),
                   "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
                   "n_regionkey": pa.array([i % 5 for i in range(25)], i32)},
        "customer": {"c_custkey": pa.array(range(C), i64),
                     "c_name": pa.array([f"Customer#{i:09d}" for i in range(C)], s),
                     "c_nationkey": pa.array(rng.integers(0, 25, C), i32),
                     "c_acctbal": money(-999.99, 9999.99, C),
                     "c_mktsegment": pa.array(rng.choice(
                         ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
                          "FURNITURE"], C), s)},
        "supplier": {"s_suppkey": pa.array(range(S), i64),
                     "s_name": pa.array([f"Supplier#{i:09d}" for i in range(S)], s),
                     "s_nationkey": pa.array(rng.integers(0, 25, S), i32),
                     "s_acctbal": money(-999.99, 9999.99, S)},
        "part": {"p_partkey": pa.array(range(P), i64),
                 "p_name": pa.array([f"{rng.choice(adjs)} {rng.choice(nouns)}"
                                     for _ in range(P)], s),
                 "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, P)], s),
                 "p_type": pa.array(rng.choice(["ECONOMY", "STANDARD", "LARGE",
                                                "SMALL", "MEDIUM", "PROMO"], P), s),
                 "p_size": pa.array(rng.integers(1, 51, P), i32),
                 "p_retailprice": pa.array([round(900 + (i % 1000) / 10, 2)
                                            for i in range(P)], f64)},
        "orders": {"o_orderkey": pa.array(range(O), i64),
                   "o_custkey": pa.array(rng.integers(0, C, O), i64),
                   "o_orderstatus": pa.array(rng.choice(["P", "O", "F"], O), s),
                   "o_totalprice": money(1000, 500_000, O),
                   "o_orderdate": _ts(o_days, base),
                   "o_orderpriority": pa.array(rng.choice(
                       ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                        "5-LOW"], O), s)},
        "lineitem": {"l_orderkey": pa.array(l_order, i64),
                     "l_partkey": pa.array(rng.integers(0, P, L), i64),
                     "l_suppkey": pa.array(rng.integers(0, S, L), i64),
                     "l_linenumber": pa.array(np.concatenate(
                         [np.arange(1, n + 1) for n in lines]), i32),
                     "l_quantity": pa.array(rng.integers(1, 51, L).astype(float), f64),
                     "l_extendedprice": money(900, 105_000, L),
                     "l_discount": pa.array(rng.integers(0, 11, L) / 100.0, f64),
                     "l_tax": pa.array(rng.integers(0, 9, L) / 100.0, f64),
                     "l_returnflag": pa.array(rng.choice(["A", "N", "R"], L), s),
                     "l_linestatus": pa.array(rng.choice(["O", "F"], L), s),
                     "l_shipdate": _ts(o_days[l_order] + rng.integers(1, 122, L), base)},
        "events": {"event_id": pa.array(range(N_EVENTS), i64),
                   "ts": _ts(ev_days, dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)),
                   "user_id": pa.array(rng.integers(0, 150, N_EVENTS), i64),
                   "event_type": pa.array(rng.choice(
                       ["click", "view", "purchase", "signup", "error"], N_EVENTS), s),
                   "value": money(0.01, 500, N_EVENTS),
                   "props": pa.array([f'{{"k": {k}}}' for k in
                                      rng.integers(0, 100, N_EVENTS)], s)},
        "documents": {"doc_id": pa.array(range(N_DOCS), i64),
                      "text": pa.array(docs, s),
                      "lang": pa.array(rng.choice(["en", "de", "fr", "es", "zh"],
                                                  N_DOCS), s),
                      "source": pa.array([f"src{i}" for i in
                                          rng.integers(0, 20, N_DOCS)], s),
                      "n_chars": pa.array([len(d) for d in docs], i64)},
        "embeddings": {"vec_id": pa.array(range(N_VECS), i64),
                       "embedding": pa.array(list(emb), pa.list_(pa.float32())),
                       "label": pa.array(labels, i32)},
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
    return {}


def gen_batch(rng: np.random.Generator, out_dir: str, passes: int) -> dict:
    """Every pass reads the same files: the corpus and the ten tables."""
    oracle = gen_corpus(rng, out_dir)
    gen_tables(rng, out_dir)
    return oracle


GENERATORS = {"batch": gen_batch, "txn_churn": gen_txn}


def generate(workload: str, seed: int, out_dir: str, passes: int) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    return GENERATORS[workload](np.random.default_rng(seed), out_dir, passes)
