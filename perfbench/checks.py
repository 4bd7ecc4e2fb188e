"""Result checks, run by ``run.py`` after the program's process has
exited. Each check returns ``{op name: reason}`` for the ops whose
result was wrong; an empty dict means every result checked out.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os
import zlib

import pyarrow.parquet as pq

from inputs import DEFAULT_SPLITS, HEADLINE, TABLES

SPLIT_TOLERANCE = 0.02
REL_TOL = 1e-9


def close(a, b) -> bool:
    """Equal, with floats compared to ``REL_TOL`` relative."""
    if isinstance(a, float) or isinstance(b, float):
        try:
            return math.isclose(float(a), float(b), rel_tol=REL_TOL, abs_tol=REL_TOL)
        except (TypeError, ValueError):
            return False
    if isinstance(a, (tuple, list)) and isinstance(b, (tuple, list)):
        return len(a) == len(b) and all(close(x, y) for x, y in zip(a, b))
    return a == b


def check_corpus(res: dict, oracle: dict, out: str) -> dict:
    """One pass's corpus results; ``out`` is where it wrote prepare_corpus."""
    bad = {}
    if res.get("topk") != [tuple(wc) for wc in oracle["top_k"]]:
        bad["corpus.topk"] = f"top-k {res.get('topk')} != Counter {oracle['top_k']}"
    if not os.path.isdir(out):
        bad["corpus.prepare"] = "no output written"
    else:
        t = pq.read_table(out, columns=["doc_id", "split"]).to_pydict()
        ids = t["doc_id"]
        shares = {s: t["split"].count(s) / max(1, len(ids)) for s in DEFAULT_SPLITS}
        if len(set(ids)) != len(ids):
            bad["corpus.prepare"] = "duplicate doc_id in the output"
        elif sorted(ids) != oracle["survivor_ids"]:
            bad["corpus.prepare"] = "survivors differ from the exact-dedup model"
        elif any(abs(shares[s] - f) > SPLIT_TOLERANCE for s, f in DEFAULT_SPLITS.items()):
            bad["corpus.prepare"] = f"split shares {shares}"
    if res.get("compressed_len") != oracle["compressed_len"]:
        bad["corpus.compress"] = (f"compressed bytes {res.get('compressed_len')} "
                                  f"!= {oracle['compressed_len']}")
    return bad


def check_batch(res: dict, oracle: dict, inp: str, work: str) -> dict:
    """Every pass: the corpus results, and each headline query against its
    ``registry.resolve_oracle`` SQL run once in DuckDB on the same files."""
    import duckdb

    from worker import prepared_dir

    oracle = dict(oracle, compressed_len=sum(
        len(zlib.compress(t.encode("utf-8"), 6)) for t in oracle["texts"]))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inp}/{t}.parquet'")
    want = {}
    for q in HEADLINE:
        cur = con.execute(res["oracles"][q])
        d_cols = [c[0] for c in cur.description]
        want[q] = (d_cols, multiset(d_cols, cur.fetchall()))
    con.close()
    bad = {}
    for p, got in enumerate(res["passes"]):
        for op, why in check_corpus(got, oracle, prepared_dir(work, p)).items():
            bad[f"{op}#{p}"] = why
        for q, (cols, rows) in got["queries"].items():
            d_cols, d_rows = want[q]
            if sorted(c.lower() for c in cols) != sorted(c.lower() for c in d_cols):
                bad[f"headline.{q}#{p}"] = f"columns {cols} != oracle {d_cols}"
            elif not rows or not close(multiset(cols, rows), d_rows):
                bad[f"headline.{q}#{p}"] = (f"{len(rows)} rows differ from the "
                                           f"oracle's {len(d_rows)}")
    return bad


def _snapshot_rows(df) -> list[tuple]:
    return sorted(map(tuple, df.itertuples(index=False)))


def check_txn(res: dict, oracle: dict, inp: str, work: str) -> dict:
    bad = {}
    for c, want in enumerate(oracle["reads"]):
        got = res["passes"][c]["read"] if c < len(res["passes"]) else None
        if got is None or not close(got, want):
            bad[f"tx.read#{c}"] = f"cycle {c} aggregate {got} != model {want}"
    want = _snapshot_rows(oracle["final"])
    for side, op in (("src", "tx.compact"), ("dst", "pipe.tick")):
        df = res.get(side)
        got = None if df is None else _snapshot_rows(df[list(oracle["final"].columns)])
        if got != want:
            n = "none" if got is None else len(got)
            bad[op] = f"{side} snapshot ({n} rows) != model ({len(want)} rows)"
    return bad


def _norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, float) and v != v:
        return "NaN"
    return v


def multiset(cols, rows) -> list[tuple]:
    """Rows as an order-insensitive multiset, columns sorted by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return sorted((tuple(_norm(r[i]) for i in order) for r in rows),
                  key=lambda t: tuple(str(x) for x in t))


CHECKS = {"batch": check_batch, "txn_churn": check_txn}
