"""Vector similarity search (SURVEY.md §2.2 E3).

Brute-force cosine top-k as the exact baseline; random-hyperplane LSH
bucketing as the approximate scale path. Everything is built-in column
algebra (zip_with/aggregate folds) — JVM-side, no Python in the hot path.

Determinism contract: dot products are explicit LEFT-TO-RIGHT folds in
double precision. Floating-point addition isn't associative, so a
"sum in any order" dot product would differ across engines/partitionings
in the last bits; a fixed fold order makes the doubles bit-identical to
the DuckDB oracle (which uses list_reduce, also a left fold). That lets
the driver hash raw similarity values, not just ranks.

Scale (100 TB): brute-force is O(Q×N×d) — fine when Q is small and N
is partitioned (each executor scores its shard; the window top-k moves
only k rows per query per partition). The LSH path buckets vectors by
sign-pattern against P shared hyperplanes (the planes are a tiny
broadcast constant), so candidate scoring touches ~N/2^P per query.
For production ANN, raise P and probe multiple buckets (multi-probe) or
switch to IVF with learned centroids — same pipeline shape.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.tables import local_frame
from .relational import top_k_per_group

N_PLANES = 8

#: Routing thresholds for :func:`choose_strategy`. Calibrated from the
#: measured sf0.1→sf1 scale step (SCALE.md): BLAS sustains ~1e9
#: query·corpus score pairs per core-minute; the pair-join exact fold is
#: ~20x slower per pair (per-pair array allocation vs one matmul).
EXACT_BUDGET = 2e7    # Q·N pairs the pair-join fold may score
BLAS_BUDGET = 5e9     # Q·N pairs the blocked matmul may score
BLAS_MAX_Q = 65_536   # max collectible query set (Q·dim·8B ≈ 32 MB at dim=64)
TARGET_BUCKET_SIZE = 32


def resolve_n_planes(
    n_corpus: int,
    target_bucket_size: int = TARGET_BUCKET_SIZE,
    min_planes: int = 4,
    max_planes: int = 24,
) -> int:
    """Scale-safe hyperplane count: hold expected bucket occupancy at
    ``target_bucket_size`` as the corpus grows.

    Occupancy is N / 2^P, so P = ceil(log2(N / target)). At fixed P the
    per-query candidate work grows linearly with N (quadratic in total
    once Q grows with N too) — measured at the sf1 scale step: pinned 8
    planes degraded 62x, log-scaled planes stayed ~linear (SCALE.md).
    Clamped to [min_planes, max_planes]: 2^24 buckets ≈ 16M is plenty
    before banding/IVF become the better index anyway."""
    if n_corpus <= 0:
        return min_planes
    raw = math.ceil(math.log2(max(1.0, n_corpus / target_bucket_size)))
    return max(min_planes, min(max_planes, raw))


def choose_strategy(
    n_corpus: int,
    n_queries: int,
    has_quantizer: bool = False,
    exact_budget: float = EXACT_BUDGET,
    blas_budget: float = BLAS_BUDGET,
    blas_max_q: int = BLAS_MAX_Q,
) -> str:
    """Pick the scale-appropriate ANN variant from two cheap numbers.

    Pure routing logic (unit-testable without Spark) used by
    :func:`topk` with ``strategy='auto'``:

    1. ``blas``  — Q collectible AND Q·N within the matmul budget:
       exact, one Arrow pass over the corpus, per-batch partial top-k.
       Preferred whenever affordable: exact beats approximate at equal
       cost, and BLAS dominates the pair-join fold (~20x/pair).
    2. ``exact`` — Q too large to collect but Q·N small: the pair-join
       fold keeps both sides distributed.
    3. ``ivf``   — over budget WITH a pre-trained coarse quantizer:
       probe nprobe/n_cells of the corpus. Auto never trains k-means
       behind the caller's back; it routes to IVF only when handed the
       index, the way a production serving path reuses one.
    4. ``lsh``   — over budget, no index: multi-probe hyperplane LSH
       with log2(N)-scaled planes. Zero training, fully distributed,
       the safe default at any N.
    """
    pairs = float(n_corpus) * float(n_queries)
    if n_queries <= blas_max_q and pairs <= blas_budget:
        return "blas"
    if pairs <= exact_budget:
        return "exact"
    if has_quantizer:
        return "ivf"
    return "lsh"


def topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    strategy: str = "auto",
    vec_col: str = "embedding",
    corpus_count: int | None = None,
    query_count: int | None = None,
    dim: int = 64,
    quantizer: tuple[DataFrame, "object"] | None = None,
    n_cells: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """THE similarity front door: top-k cosine neighbors, with the
    engine (not the caller) picking the scale-safe variant.

    ``strategy='auto'`` routes on corpus/query cardinality via
    :func:`choose_strategy`; pass ``corpus_count``/``query_count`` from
    a persisted profile row to skip the count jobs (at 100 TB a count
    is cheap but not free — parquet answers it from footer metadata,
    but the auto route shouldn't force even that when the caller
    already knows). Explicit ``strategy`` in {'exact', 'blas', 'lsh',
    'ivf'} forces a variant. Every branch returns the same schema
    (query_id, neighbor_id, sim, rank) with the same deterministic
    (sim desc, neighbor asc) tie-break. 'exact' and 'blas' both score
    every pair exactly and return the same PAIR SET
    (tests/test_similarity_quality.py pins it), but their sims can
    differ in the last float bit (blas normalizes then matmuls; the
    fold divides a left-fold dot by a norm product) — hash raw sims
    only against the variant that produced them. 'lsh'/'ivf' are
    recall-gated approximations whose returned sims match the fold
    scorer bit-for-bit."""
    if strategy == "auto":
        n = corpus_count if corpus_count is not None else corpus.count()
        q = query_count if query_count is not None else queries.count()
        strategy = choose_strategy(n, q, has_quantizer=quantizer is not None)
        corpus_count, query_count = n, q
    if strategy == "blas":
        return cosine_topk_blas(
            corpus, queries, k=k, vec_col=vec_col, query_count=query_count
        )
    if strategy == "exact":
        return cosine_topk(queries, corpus, k=k, vec_col=vec_col)
    if strategy == "lsh":
        # radius-2 probing: the measured recall win (0.58→0.86 on loose
        # clusters) at a bounded candidate-volume cost — the safe default
        return lsh_topk(
            corpus, queries, n_planes=None, multiprobe=True, k=k, dim=dim,
            vec_col=vec_col, corpus_count=corpus_count, probe_radius=2,
        )
    if strategy == "ivf":
        return ivf_topk(
            corpus, queries, n_cells=n_cells, nprobe=nprobe, k=k,
            vec_col=vec_col, quantizer=quantizer,
        )
    raise ValueError(
        f"unknown strategy {strategy!r}; expected auto/exact/blas/lsh/ivf"
    )


def dot_fold(a: "Column | str", b: "Column | str") -> Column:
    """Σ a[i]·b[i] as a left fold in double (deterministic, portable).

    Pass column NAMES where possible: the string form parses as ONE
    SQL expression (a single py4j roundtrip) where the Column/lambda
    form costs ~25 roundtrips of higher-order-function plumbing —
    ~0.1 s of driver time per query construction across the similarity
    family (round-15 guide §1 measurement). Identical expression tree
    either way (pinned by the oracle hashes)."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(
            f"aggregate(zip_with(`{a}`, `{b}`, (x, y) -> "
            "cast(x as double) * cast(y as double)), "
            "cast(0.0 as double), (acc, x) -> acc + x)"
        )
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Attach ‖v‖ once per vector (computed pre-join, not per pair).

    Spreads the input first: the fixture parquet arrives as one scan
    partition, and everything downstream (norms, pair scoring) is
    per-row compute that must parallelize."""
    from ..plans.partitioning import spread

    return spread(df).withColumn("vnorm", F.sqrt(dot_fold(vec_col, vec_col)))


def hyperplanes(spark, n_planes: int = N_PLANES, dim: int = 64) -> DataFrame:
    """(plane, r): deterministic pseudo-random hyperplanes derived from
    md5 — portable to the SQL oracle. Component j of plane p =
    (hex32(md5('plane:p:j')) % 2001 - 1000) / 1000 ∈ [-1, 1]."""
    return spark.range(n_planes).select(
        F.col("id").cast("int").alias("plane"),
        F.expr(
            f"""
            transform(sequence(0, {dim - 1}), j ->
              (cast(conv(substring(md5(concat('plane:', id, ':', j)), 1, 8), 16, 10)
                    as bigint) % 2001 - 1000) / 1000.0)
            """
        ).alias("r"),
    )


def lsh_buckets(
    vectors: DataFrame, planes: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """(vec_id, bucket): bucket = Σ_p [dot(v, r_p) > 0]·2^p.

    The planes side is 8 tiny rows — broadcast; each vector is scored
    against all planes with no shuffle of the vector table."""
    scored = vectors.join(F.broadcast(planes)).select(
        "vec_id",
        "plane",
        (dot_fold(vec_col, "r") > 0).cast("int").alias("bit"),
    )
    return scored.groupBy("vec_id").agg(
        F.sum(F.expr("shiftleft(bit, plane)")).cast("long").alias("bucket")
    )


def banded_lsh_buckets(
    vectors: DataFrame,
    planes: DataFrame,
    planes_per_band: int = 8,
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, band, bucket): MinHash-style banding for hyperplane LSH.

    A single P-plane signature ANDs all P sign bits, so recall collapses
    unless vectors are near-identical on every plane; banding ORs B
    independent bands of ``planes_per_band`` planes each — near-dups
    collide in ≥1 band with probability 1-(1-p^b)^B. Same plan shape as
    ``lsh_buckets``: planes broadcast, one aggregation, no vector
    shuffle."""
    scored = vectors.join(F.broadcast(planes)).select(
        "vec_id",
        (F.col("plane") / planes_per_band).cast("int").alias("band"),
        (F.col("plane") % planes_per_band).alias("slot"),
        (dot_fold(vec_col, "r") > 0).cast("int").alias("bit"),
    )
    return scored.groupBy("vec_id", "band").agg(
        F.sum(F.expr("shiftleft(bit, slot)")).cast("long").alias("bucket")
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries``/``corpus`` need (vec_id, embedding); self-matches are
    excluded. Output: (query_id, neighbor_id, sim, rank) with a
    deterministic (sim desc, neighbor asc) tie-break."""
    q = with_norm(queries, vec_col).select(
        F.col("vec_id").alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.col("vnorm").alias("q_norm"),
    )
    c = with_norm(corpus, vec_col).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.col("vnorm").alias("c_norm"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot_fold("q_vec", "c_vec") / (F.col("q_norm") * F.col("c_norm"))).alias("sim"),
        )
    )
    return top_k_per_group(
        scored, ["query_id"], [F.desc("sim"), F.asc("neighbor_id")], k=k, rn_col="rank"
    ).select("query_id", "neighbor_id", "sim", F.col("rank").cast("int").alias("rank"))


def ivf_assignments(
    vectors: DataFrame, k: int = 16, seed: int = 42, vec_col: str = "embedding"
) -> tuple[DataFrame, "object"]:
    """IVF coarse quantizer: k-means centroids + per-vector cell ids.

    Returns (assignments DataFrame[vec_id, cell], fitted KMeansModel).
    The centroid fit is the one ML-training step in the engine — seeded,
    so assignments are reproducible run-to-run (but not portable to a
    SQL oracle; IVF queries register rows-only and are recall-tested
    against the exact baseline instead).

    Scale: centroids are a tiny broadcast model; assignment is one
    embarrassingly-parallel pass. Real IVF training samples the corpus
    (fit on ~1M vectors, assign 100 TB) — same shape here.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = vectors.select(
        "vec_id", array_to_vector(F.col(vec_col)).alias("features")
    )
    model = KMeans(k=k, seed=seed, featuresCol="features", predictionCol="cell").fit(
        feats
    )
    return model.transform(feats).select("vec_id", "cell"), model


def probe_masks(n_planes: int, probe_radius: int) -> list[int]:
    """XOR bit-flip masks for multi-probe LSH: radius 0 = own bucket,
    1 adds the P single-bit flips, 2 adds the C(P,2) two-bit flips.
    Shared by the batch path (lsh_topk) and the streaming index path
    (streaming/similarity.topk_against_index) so the probe contract
    cannot fork."""
    masks = [0]
    if probe_radius >= 1:
        masks += [1 << b for b in range(n_planes)]
    if probe_radius >= 2:
        masks += [
            (1 << a) | (1 << b)
            for a in range(n_planes)
            for b in range(a + 1, n_planes)
        ]
    return masks


def expand_probes(q_buckets: DataFrame, masks: list[int]) -> DataFrame:
    """(query_id, bucket): ids-only probe expansion — Q x |masks| rows
    of two longs. The mask table is the tiny broadcast constant; the
    EXPANDED output is deliberately unhinted so AQE sizes the bucket
    match from reality (the round-6 no-forced-broadcast discipline)."""
    spark = q_buckets.sparkSession
    mask_df = spark.range(len(masks)).select(
        F.expr(f"array({', '.join(str(m) for m in masks)})[cast(id as int)]")
        .cast("long")
        .alias("mask")
    )
    return (
        q_buckets.select(
            F.col("vec_id").alias("query_id"), F.col("bucket").alias("q_bucket")
        )
        .join(F.broadcast(mask_df))
        .select("query_id", F.expr("q_bucket ^ mask").alias("bucket"))
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_planes: int | None = None,
    multiprobe: bool = False,
    k: int = 10,
    dim: int = 64,
    vec_col: str = "embedding",
    corpus_count: int | None = None,
    probe_radius: int = 1,
) -> DataFrame:
    """Hyperplane-LSH approximate top-k cosine neighbors.

    ``corpus``/``queries`` need (vec_id, embedding). Candidates =
    members of each query's bucket (plus, with ``multiprobe``, every
    bucket within ``probe_radius`` bit-flips), scored exactly, window
    top-k per query. Probes expand via explode + equi-join on bucket —
    never a popcount-distance non-equi join, which would plan as a
    quadratic loop join.

    ``probe_radius`` is the recall dial at HIGH plane counts: the
    log-N sizing below grows planes with the corpus, and per-plane
    agreement is < 1, so single-bit probing's recall decays as planes
    grow; radius 2 adds the C(P,2) two-flip buckets
    (1 + P + P(P-1)/2 probes — still a broadcast-side constant) and
    buys back most of it at ~P/2x the candidate volume.

    SCALE SHAPE (the round-6 fix): the probe expansion carries IDS
    ONLY — (query_id, probe bucket), two longs per row — and the
    bucket match is an UNHINTED equi-join, so Catalyst/AQE picks
    broadcast vs shuffled-hash from actual sizes. This matters because
    the auto router sends a query set here precisely when Q is too big
    to broadcast: Q=1M at radius 2 / 24 planes is ~300M probe rows,
    and the old form force-broadcast them WITH their dim-64 vectors
    (~100+ GB pinned per executor). Vectors and norms now join back by
    id AFTER the match, so what shuffles before scoring is candidate
    id pairs, not vector payloads
    (tests/test_similarity_router.py pins the no-forced-broadcast
    plan shape).

    SIZING RULE (the scale knob): expected bucket occupancy is
    N / 2^n_planes, so per-query candidate work grows LINEARLY in N at
    fixed n_planes — and the query count usually grows with N too,
    making total work quadratic. Hold occupancy constant instead:
    n_planes ≈ log2(N / target_bucket_size). Measured at a 10x corpus
    step (SCALE.md): pinned 8 planes degraded 62x; log-scaled planes
    restored ~linear total time at equal-or-better recall.

    ``n_planes=None`` (the default) applies that rule automatically via
    :func:`resolve_n_planes` — one corpus count (skipped when the
    caller passes ``corpus_count`` from a persisted profile). Pass an
    explicit ``n_planes`` only to pin a signature, e.g. for
    cross-engine oracle parity.
    """
    from .relational import top_k_per_group

    spark = corpus.sparkSession
    if n_planes is None:
        n = corpus_count if corpus_count is not None else corpus.count()
        n_planes = resolve_n_planes(n)
    planes = hyperplanes(spark, n_planes=n_planes, dim=dim)
    c_buckets = lsh_buckets(corpus, planes, vec_col=vec_col)

    q_buckets = lsh_buckets(queries, planes, vec_col=vec_col)
    # multiprobe=True always probes at least radius 1 (its pre-refactor
    # contract — radius below 1 with the flag set would silently mean
    # "multiprobe off"); radius is the dial ABOVE that floor
    probes = expand_probes(
        q_buckets,
        probe_masks(n_planes, max(1, probe_radius) if multiprobe else 0),
    )
    # candidate id pairs via the UNHINTED bucket equi-join (AQE picks
    # broadcast vs shuffled-hash from actual probe-side size). No
    # distinct needed: the masks are distinct, so XOR against a fixed
    # q_bucket yields distinct probe buckets per query, and a corpus
    # vector has exactly one bucket — a (query, neighbor) pair can
    # match through at most one probe.
    cands = (
        c_buckets.join(probes, "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    # vectors/norms attach AFTER the match, by id — equi-joins, AQE's
    # choice; what shuffles at scale is id pairs, not dim-64 payloads
    c = with_norm(corpus, vec_col).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.col("vnorm").alias("c_norm"),
    )
    q = with_norm(queries, vec_col).select(
        F.col("vec_id").alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.col("vnorm").alias("q_norm"),
    )
    scored = (
        cands.join(c, "neighbor_id")
        .join(q, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            (
                dot_fold("q_vec", "c_vec")
                / (F.col("q_norm") * F.col("c_norm"))
            ).alias("sim"),
        )
    )
    return top_k_per_group(
        scored, ["query_id"], [F.desc("sim"), F.asc("neighbor_id")], k=k, rn_col="rank"
    ).select("query_id", "neighbor_id", "sim", F.col("rank").cast("int").alias("rank"))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_cells: int = 16,
    nprobe: int = 4,
    k: int = 10,
    vec_col: str = "embedding",
    quantizer: tuple[DataFrame, "object"] | None = None,
) -> DataFrame:
    """IVF ANN: exact cosine within each query's ``nprobe`` closest
    k-means cells — probing nprobe/n_cells of the corpus instead of
    all of it.

    ``corpus``/``queries`` need (vec_id, embedding). ``quantizer``
    optionally reuses a prior :func:`ivf_assignments` fit (so a recall
    sweep over nprobe shares one coarse quantizer, as a production
    index would). Output: (query_id, neighbor_id, sim, rank).

    Fully distributed: centroids are the only driver-side artifact
    (they come back with the fitted model regardless); probe selection
    broadcasts them against the query DataFrame and ranks per query
    with a window — no ``.collect()`` of query vectors, so the query
    set can itself be 100 TB-scale. To make that claim real, the probe
    set carries (query_id, cell) ONLY and the cell match is an
    UNHINTED equi-join (round-6 fix — the old form force-broadcast
    Q x nprobe rows WITH their vectors); query vectors join back by id
    after the match, so AQE sizes the join from id rows.
    """
    from .relational import top_k_per_group

    spark = corpus.sparkSession
    assign, model = quantizer or ivf_assignments(
        corpus, k=n_cells, vec_col=vec_col
    )
    centroid_df = local_frame(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cell int, centroid array<double>",
    )

    corpus_b = with_norm(corpus, vec_col).join(assign, "vec_id")
    q = with_norm(queries, vec_col).select(
        F.col("vec_id").alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.col("vnorm").alias("q_norm"),
    )
    d2 = F.aggregate(
        F.zip_with("q_vec", "centroid", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    probes = top_k_per_group(
        q.join(F.broadcast(centroid_df)).withColumn("d2", d2),
        ["query_id"],
        [F.asc("d2"), F.asc("cell")],
        k=nprobe,
    ).select("query_id", "cell")

    # unhinted cell equi-join over id rows; query vectors re-attach by
    # id after the match. No distinct needed: a corpus vector lives in
    # exactly one cell and probes are unique per (query_id, cell), so
    # a (query, neighbor) pair arises at most once.
    scored = (
        corpus_b.join(probes, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(q, "query_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                dot_fold("q_vec", vec_col)
                / (F.col("q_norm") * F.col("vnorm"))
            ).alias("sim"),
        )
    )
    return top_k_per_group(
        scored, ["query_id"], [F.desc("sim"), F.asc("neighbor_id")], k=k, rn_col="rank"
    ).select("query_id", "neighbor_id", "sim", F.col("rank").cast("int").alias("rank"))


def cosine_pairs_above(
    vectors: DataFrame, threshold: float, vec_col: str = "embedding"
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (a < b) with sim ≥ t.

    Brute force (N²/2 scoring) — the exact baseline; compose with
    ``lsh_buckets`` equality to prune at scale (see the LSH query)."""
    n = with_norm(vectors, vec_col)
    a = n.select(
        F.col("vec_id").alias("id_a"), F.col(vec_col).alias("va"), F.col("vnorm").alias("na")
    )
    b = n.select(
        F.col("vec_id").alias("id_b"), F.col(vec_col).alias("vb"), F.col("vnorm").alias("nb")
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (dot_fold("va", "vb") / (F.col("na") * F.col("nb"))).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def cosine_topk_blas(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    query_count: int | None = None,
    max_q: int = BLAS_MAX_Q,
) -> DataFrame:
    """Exact top-k cosine via blocked BLAS matmul — the fast exact path
    for the bounded-query-set regime.

    The query set is collected and shipped as ONE sc.broadcast value
    (Q×dim doubles — bounded, the same mechanism a broadcast join uses;
    this operator is explicitly for Q that fits in executor memory —
    with corpus-scale Q you want :func:`lsh_topk`/:func:`ivf_topk`
    instead). That bound is ENFORCED, not advisory: the query side is
    counted (one metadata-cheap job — or pass ``query_count`` from a
    profile / the auto router to skip it) and a Q above ``max_q``
    raises a descriptive error BEFORE the collect, instead of OOMing
    the driver the way an unguarded direct call used to. Each Arrow batch of CORPUS rows is scored against all
    queries in one ``batch×dim @ dim×Q`` matmul, and — the part that
    matters for the shuffle — reduced to a per-batch partial top-k, so
    the final global window sees ~(batches × Q × k) rows instead of
    N×Q. Compared to the pair-join einsum variant, the corpus crosses
    the Arrow boundary ONCE (not once per query) and the top-k shuffle
    shrinks ~N/(batches·k)-fold; measured 9× end-to-end at the sf1
    scale step (SCALE.md).

    Ties at rank k are resolved by (sim desc, neighbor_id asc); the
    per-batch cut keeps ties by taking k candidates per batch, which is
    safe because any global top-k row is also in its own batch's
    top-k.
    """
    import numpy as np

    from .relational import top_k_per_group

    spark = corpus.sparkSession
    n_q = query_count if query_count is not None else queries.count()
    if n_q > max_q:
        raise ValueError(
            f"cosine_topk_blas: query side has {n_q} rows > max_q={max_q} — "
            "collecting it would risk driver OOM. Use topk(strategy='auto') "
            "(routes oversized Q to lsh/ivf), or lsh_topk/ivf_topk directly, "
            "or raise max_q explicitly if the driver really has the memory."
        )
    q_rows = queries.select("vec_id", vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)
    qb = spark.sparkContext.broadcast((q_ids, q_mat))

    def score(batches):
        import pandas as pd

        ids, qm = qb.value
        nq = len(ids)
        for pdf in batches:
            c_mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            c_ids = pdf["vec_id"].to_numpy()
            c_mat /= np.linalg.norm(c_mat, axis=1, keepdims=True)
            sims = c_mat @ qm.T  # (batch, Q)
            # mask self-matches, then partial top-k per query via argpartition
            sims[c_ids[:, None] == ids[None, :]] = -np.inf
            kk = min(k, sims.shape[0])
            part = np.argpartition(-sims, kk - 1, axis=0)[:kk]  # (kk, Q)
            out_q = np.repeat(ids, kk)
            out_n = c_ids[part.T.ravel()]
            out_s = sims[part.T.ravel(), np.repeat(np.arange(nq), kk)]
            keep = np.isfinite(out_s)
            yield pd.DataFrame(
                {"query_id": out_q[keep], "neighbor_id": out_n[keep],
                 "sim": out_s[keep]}
            )

    scored = corpus.select("vec_id", vec_col).mapInPandas(
        score, schema="query_id long, neighbor_id long, sim double"
    )
    return top_k_per_group(
        scored, ["query_id"], [F.desc("sim"), F.asc("neighbor_id")], k=k, rn_col="rank"
    ).select("query_id", "neighbor_id", "sim", F.col("rank").cast("int").alias("rank"))
