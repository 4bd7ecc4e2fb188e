"""Streaming similarity vs a persisted ANN index: pure-Python replay
oracle (md5 planes + left-fold scoring are portable, so candidates and
scores are exactly reproducible), multi-batch accumulation, restart
idempotence, and planted-neighbor recall."""

from __future__ import annotations

import hashlib
import json
import math

import pytest
from pyspark.sql import functions as F

from distributed_mapreduce__spark.sources.txlog import tx_read
from distributed_mapreduce__spark.streaming.similarity import (
    build_ann_index,
    load_ann_meta,
    stream_topk_against_index,
    topk_against_index,
)

DIM = 4
N_PLANES = 3
_VECS = "vec_id LONG, embedding ARRAY<FLOAT>"


def _plane(p):
    return [
        (int(hashlib.md5(f"plane:{p}:{j}".encode()).hexdigest()[:8], 16) % 2001 - 1000)
        / 1000.0
        for j in range(DIM)
    ]


def _f32(v):
    # vectors live as ARRAY<FLOAT>: pre-round every literal to its
    # float32 value so oracle and engine fold the same numbers (planes
    # stay double on both sides)
    import numpy as np

    return [float(np.float32(x)) for x in v]


def _fold_dot(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def _bucket(v):
    b = 0
    for p in range(N_PLANES):
        if _fold_dot(v, _plane(p)) > 0:
            b |= 1 << p
    return b


def _oracle_topk(corpus, queries, k=3, probe_radius=1):
    """Replay the operator's contract: probe buckets within
    ``probe_radius`` bit flips, exact cosine on candidates, top-k by
    (-score, neighbor_id)."""
    out = {}
    masks = [0]
    if probe_radius >= 1:
        masks += [1 << b for b in range(N_PLANES)]
    if probe_radius >= 2:
        masks += [
            (1 << a) | (1 << b)
            for a in range(N_PLANES)
            for b in range(a + 1, N_PLANES)
        ]
    cbuckets = {i: _bucket(v) for i, v in corpus.items()}
    for qid, qv in queries.items():
        probes = {_bucket(qv) ^ m for m in masks}
        cands = [i for i, b in cbuckets.items() if b in probes and i != qid]
        scored = []
        for i in cands:
            s = _fold_dot(qv, corpus[i]) / (
                math.sqrt(_fold_dot(qv, qv)) * math.sqrt(_fold_dot(corpus[i], corpus[i]))
            )
            scored.append((i, s))
        scored.sort(key=lambda t: (-t[1], t[0]))
        out[qid] = scored[:k]
    return out


@pytest.fixture(scope="module")
def corpus_vecs():
    # two tight clusters + an outlier; ids chosen so bucket collisions
    # and candidate sets are nontrivial at 3 planes
    return {
        1: _f32([1.0, 0.1, 0.0, 0.0]),
        2: _f32([0.9, 0.2, 0.0, 0.1]),
        3: _f32([-1.0, 0.0, 0.2, 0.0]),
        4: _f32([-0.9, 0.1, 0.1, 0.0]),
        5: _f32([0.0, 0.0, 0.0, 1.0]),
        6: _f32([1.0, 0.1, 0.001, 0.0]),
    }


def _index(spark, tmp, corpus_vecs):
    df = spark.createDataFrame(list(corpus_vecs.items()), _VECS)
    path = str(tmp / "index")
    n_planes = build_ann_index(df, path, n_planes=N_PLANES, dim=DIM)
    assert n_planes == N_PLANES
    return path


def test_meta_roundtrip_and_index_schema(spark, tmp_path, corpus_vecs):
    path = _index(spark, tmp_path, corpus_vecs)
    assert load_ann_meta(spark, path) == (N_PLANES, DIM)
    cols = set(tx_read(spark, path).columns)
    assert cols == {"vec_id", "bucket", "embedding", "vnorm"}


def test_upsert_ann_index_updates_and_appends(spark, tmp_path, corpus_vecs):
    from distributed_mapreduce__spark.streaming.similarity import (
        upsert_ann_index,
    )

    path = _index(spark, tmp_path, corpus_vecs)
    # vector 5 MOVES (flips to the -x cluster), vector 7 is new
    changes = {5: _f32([-1.0, 0.05, 0.12, 0.0]), 7: _f32([0.0, 0.1, 0.0, 1.0])}
    upsert_ann_index(
        spark.createDataFrame(list(changes.items()), _VECS), path
    )
    # meta survives the merge; one row per id; id 5 replaced
    assert load_ann_meta(spark, path) == (N_PLANES, DIM)
    idx = tx_read(spark, path)
    assert idx.count() == 7
    assert idx.filter(F.col("vec_id") == 5).count() == 1
    updated = {**corpus_vecs, **changes}
    r5 = idx.filter(F.col("vec_id") == 5).first()
    assert r5.bucket == _bucket(updated[5])
    # queries against the merged index see post-update reality
    queries = {301: _f32([-0.98, 0.06, 0.1, 0.0])}
    got = topk_against_index(
        spark.createDataFrame(list(queries.items()), _VECS),
        idx, N_PLANES, DIM, k=3, probe_radius=1,
    ).collect()
    want = _oracle_topk(updated, queries, k=3, probe_radius=1)[301]
    got_sorted = sorted(((r.neighbor_id, r.score) for r in got),
                        key=lambda t: (-t[1], t[0]))
    assert [n for n, _ in got_sorted] == [n for n, _ in want]
    for (_, gs), (_, ws) in zip(got_sorted, want):
        assert gs == pytest.approx(ws, abs=1e-12)


def test_index_read_planned_before_upsert_keeps_its_snapshot(
    spark, tmp_path, corpus_vecs
):
    """A ``tx_read`` of the index planned before ``upsert_ann_index``
    commits still returns the pre-upsert rows afterwards: the read
    holds its snapshot's file list, and the merge commits new files
    instead of swapping the directory under it."""
    from distributed_mapreduce__spark.streaming.similarity import (
        upsert_ann_index,
    )

    path = _index(spark, tmp_path, corpus_vecs)
    planned = tx_read(spark, path)
    pre = sorted((r.vec_id, r.bucket) for r in tx_read(spark, path).collect())
    upsert_ann_index(
        spark.createDataFrame(
            [(5, _f32([-1.0, 0.05, 0.12, 0.0])), (7, _f32([0.0, 0.1, 0.0, 1.0]))],
            _VECS,
        ),
        path,
    )
    assert sorted((r.vec_id, r.bucket) for r in planned.collect()) == pre
    assert tx_read(spark, path).count() == len(pre) + 1


@pytest.mark.parametrize("probe_radius", [0, 1, 2])
def test_batch_core_matches_python_replay(spark, tmp_path, corpus_vecs, probe_radius):
    path = _index(spark, tmp_path, corpus_vecs)
    queries = {
        101: _f32([1.0, 0.1, 0.0, 0.0]),   # exact copy of corpus 1
        102: _f32([-0.95, 0.05, 0.15, 0.0]),
        103: _f32([0.0, 0.0, 0.1, 0.9]),
    }
    qdf = spark.createDataFrame(list(queries.items()), _VECS)
    got_rows = topk_against_index(
        qdf, tx_read(spark, path), N_PLANES, DIM, k=3, probe_radius=probe_radius
    ).collect()
    got = {}
    for r in sorted(got_rows, key=lambda r: (r.query_id, -r.score, r.neighbor_id)):
        got.setdefault(r.query_id, []).append((r.neighbor_id, r.score))
    want = _oracle_topk(corpus_vecs, queries, k=3, probe_radius=probe_radius)
    want = {q: v for q, v in want.items() if v}
    assert got.keys() == want.keys()
    for q in want:
        assert [n for n, _ in got[q]] == [n for n, _ in want[q]]
        for (_, gs), (_, ws) in zip(got[q], want[q]):
            assert gs == pytest.approx(ws, abs=1e-12)
    if probe_radius >= 1:
        # planted exact copy must surface its original as top-1, score 1
        assert got[101][0][0] == 1
        assert got[101][0][1] == pytest.approx(1.0, abs=1e-12)


def test_stream_accumulates_and_restart_is_idempotent(spark, tmp_path, corpus_vecs):
    path = _index(spark, tmp_path, corpus_vecs)
    src = tmp_path / "arrivals"
    src.mkdir()
    matches = str(tmp_path / "matches")
    ckpt = str(tmp_path / "ckpt")

    def write_batch(fname, vecs):
        (src / fname).write_text(
            "\n".join(
                json.dumps({"vec_id": i, "embedding": v}) for i, v in vecs.items()
            )
        )

    b1 = {201: _f32([1.0, 0.15, 0.0, 0.0])}
    b2 = {202: _f32([-1.0, 0.05, 0.1, 0.0]), 203: _f32([0.05, 0.0, 0.0, 1.0])}
    write_batch("b1.json", b1)
    stream = spark.readStream.schema(_VECS).json(str(src))
    q = stream_topk_against_index(stream, path, matches, ckpt, k=2, probe_radius=1)
    q.processAllAvailable()
    write_batch("b2.json", b2)
    q.processAllAvailable()
    q.stop()

    out = spark.read.parquet(matches)
    got_q = {r.query_id for r in out.select("query_id").distinct().collect()}
    assert got_q == {201, 202, 203}
    want = _oracle_topk(corpus_vecs, {**b1, **b2}, k=2, probe_radius=1)
    got = {}
    for r in out.collect():
        got.setdefault(r.query_id, []).append((r.neighbor_id, r.score))
    for qid in got:
        got[qid].sort(key=lambda t: (-t[1], t[0]))
        assert [n for n, _ in got[qid]] == [n for n, _ in want[qid]]

    # restart from the same checkpoint with one new file: prior batches
    # must not duplicate, the new one must land
    b3 = {204: [0.95, 0.1, 0.0, 0.05]}
    write_batch("b3.json", b3)
    stream2 = spark.readStream.schema(_VECS).json(str(src))
    q2 = stream_topk_against_index(stream2, path, matches, ckpt, k=2, probe_radius=1)
    q2.processAllAvailable()
    q2.stop()
    out2 = spark.read.parquet(matches)
    assert out2.count() == out.count() + len(_oracle_topk(corpus_vecs, b3, k=2)[204])
    per_q = (
        out2.groupBy("query_id")
        .agg(F.count("*").alias("n"), F.countDistinct("neighbor_id").alias("d"))
        .filter(F.col("n") != F.col("d"))
    )
    assert per_q.count() == 0  # no duplicated (query, neighbor) rows
