#!/usr/bin/env python3
"""Measure the round-6 operators at two scale steps (default sf0.1 and
the 10x testdata_sf1 fixtures) — the SCALE.md-appendix evidence that
their linear-work arguments hold at an order-of-magnitude step.

Covered (each forced end-to-end with a noop sink or an action):

- substring_spans / strip_repeated_spans on documents (k=8)
- BPE: learn (word-frequency shuffle + driver merge loop) and the
  Arrow apply over the corpus
- ANN: build_ann_index over embeddings + a 1k-query batch via
  topk_against_index
- PageRank on a seeded synthetic domain graph sized to the documents
  table (edges = 20x docs): rounds are data-independent, so wall
  should track the per-round shuffle.
- Bloom decontamination over documents (1% of docs as the eval set):
  build + map-only probe + exact verify, end-to-end.
- JL projection 64→16 over embeddings (the codegen sql path).
- Fuzzy key join: supplier names self-joined at edit distance 1
  (rarest-gram prefix blocking + candidate-only levenshtein; supplier
  names are the dense-template worst case for gram blocking).
- Rollup store: 3-batch upsert + merged read over events.

Prints one JSON line per sf_dir:
  {"sf_dir": ..., "ops": {name: sec}, "load_start": ...}
Usage: python scripts/bench_r6_ops.py [sf_dir ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from distributed_mapreduce__spark.operators.bpe import (  # noqa: E402
    bpe_token_counts,
    learn_bpe,
)
from distributed_mapreduce__spark.operators.graph import pagerank  # noqa: E402
from distributed_mapreduce__spark.operators.substring_dedup import (  # noqa: E402
    repeated_spans,
    strip_repeated_spans,
)
from distributed_mapreduce__spark.session import build_session  # noqa: E402
from distributed_mapreduce__spark.sources.tables import load_table  # noqa: E402
from distributed_mapreduce__spark.sources.txlog import tx_read  # noqa: E402
from distributed_mapreduce__spark.streaming.similarity import (  # noqa: E402
    build_ann_index,
    topk_against_index,
)


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def measure(spark, sf_dir: str, tmp: str) -> dict[str, float]:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # warm JVM + parquet footers so the first op doesn't absorb startup
    docs.count(), emb.count()
    out: dict[str, float] = {}

    t0 = time.perf_counter()
    _noop(repeated_spans(docs, k=8))
    out["substring_spans"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    _noop(strip_repeated_spans(docs, k=8))
    out["substring_strip"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    merges = learn_bpe(docs, num_merges=200)
    out["bpe_learn"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    _noop(bpe_token_counts(docs, merges))
    out["bpe_apply"] = round(time.perf_counter() - t0, 3)

    idx_path = os.path.join(tmp, "ann_index_" + os.path.basename(sf_dir))
    t0 = time.perf_counter()
    n_planes = build_ann_index(emb, idx_path)
    out["ann_build"] = round(time.perf_counter() - t0, 3)

    queries = emb.orderBy("vec_id").limit(1000)
    index = tx_read(spark, idx_path)
    _, dim = (n_planes, 64)
    t0 = time.perf_counter()
    _noop(topk_against_index(queries, index, n_planes, dim, k=10, probe_radius=1))
    out["ann_query_1k"] = round(time.perf_counter() - t0, 3)

    # synthetic domain graph: |E| = 20x docs, power-iterated to 1e-6.
    n_docs = docs.count()
    n_nodes = max(1000, n_docs)
    edges = (
        spark.range(n_docs * 20)
        .select(
            (F.xxhash64("id") % n_nodes).alias("src"),
            (F.xxhash64("id", F.lit(1)) % n_nodes).alias("dst"),
        )
        .select(F.abs("src").alias("src"), F.abs("dst").alias("dst"))
    )
    t0 = time.perf_counter()
    _noop(pagerank(edges, tol=1e-6))
    out["pagerank_20x_edges"] = round(time.perf_counter() - t0, 3)

    from distributed_mapreduce__spark.operators.bloom import (
        decontaminate_bloom,
    )
    from distributed_mapreduce__spark.operators.projection import (
        project_vectors,
    )

    full_docs = load_table(spark, sf_dir, "documents")
    eval_docs = full_docs.filter(F.col("doc_id") % 100 == 0)
    t0 = time.perf_counter()
    _noop(decontaminate_bloom(full_docs, eval_docs, n=3))
    out["bloom_decontaminate"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    _noop(project_vectors(emb, 64, 16, method="sql"))
    out["jl_project_64to16"] = round(time.perf_counter() - t0, 3)

    from distributed_mapreduce__spark.operators.linkage import fuzzy_key_join
    from distributed_mapreduce__spark.operators.timeseries import (
        read_rollup,
        upsert_rollup,
    )

    supp = load_table(spark, sf_dir, "supplier").select("s_name")
    t0 = time.perf_counter()
    _noop(fuzzy_key_join(supp, supp, "s_name", "s_name", max_distance=1))
    out["fuzzy_join_names_d1"] = round(time.perf_counter() - t0, 3)

    ev = load_table(spark, sf_dir, "events").select("ts", "value", "user_id")
    store = os.path.join(tmp, "rollup_" + os.path.basename(sf_dir))
    t0 = time.perf_counter()
    for i in range(3):
        upsert_rollup(
            ev.filter(F.col("user_id") % 3 == i).drop("user_id"),
            store,
            "1 hour",
            (),
            batch_id=str(i),
        )
    _noop(read_rollup(spark, store, ()))
    out["rollup_3upserts_read"] = round(time.perf_counter() - t0, 3)
    return out


def main() -> None:
    import tempfile

    sf_dirs = sys.argv[1:] or ["/root/testdata/sf0.1",
                               os.path.join(REPO, "testdata_sf1")]
    spark = build_session(app_name="bench-r6-ops")
    tmp = tempfile.mkdtemp(prefix="bench_r6_")
    for sf_dir in sf_dirs:
        load_start = os.getloadavg()[0]
        ops = measure(spark, sf_dir, tmp)
        print(
            json.dumps(
                {
                    "sf_dir": sf_dir,
                    "ops": ops,
                    "total": round(sum(ops.values()), 3),
                    "load_start": round(load_start, 2),
                }
            ),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
