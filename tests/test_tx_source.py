"""The ``txtable`` Structured Streaming source
(streaming/tx_source.py): the transactional commit log as a
first-class ``spark.readStream`` input via PySpark 4's Python
DataSource API. Spark's own offset checkpointing gives exactly-once
(offsets are commit versions); micro-batches cover exactly the
commits (start, end]; maintenance commits are no-ops; row-changing
commits fail the stream honestly (insert-only contract, tx_changes
parity); reads normalize like the batch path (typed partition values
from directory names, column mapping, evolved null-fill)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from distributed_mapreduce__spark.sources.txlog import (
    tx_compact,
    tx_delete_where,
    tx_rename_column,
    tx_write,
)
from distributed_mapreduce__spark.streaming.tx_source import (
    register_tx_source,
)


def _mem_stream(spark, path, name):
    register_tx_source(spark)
    return (
        spark.readStream.format("txtable").option("path", path).load()
        .writeStream.format("memory").queryName(name).start()
    )


def test_incremental_appends_exactly_once(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_write(spark.range(10).select("id"), t)
    q = _mem_stream(spark, t, "txsrc_a")
    try:
        q.processAllAvailable()
        assert spark.sql("select count(*) from txsrc_a").first()[0] == 10
        tx_write(spark.range(10, 30).select("id"), t)
        tx_compact(spark, t)  # maintenance: a stream no-op
        tx_write(spark.range(30, 35).select("id"), t)
        q.processAllAvailable()
        got = spark.sql(
            "select count(*) as n, sum(id) as s from txsrc_a"
        ).first()
        assert (got.n, got.s) == (35, sum(range(35)))
        # idle trigger: nothing re-delivered
        q.processAllAvailable()
        assert spark.sql("select count(*) from txsrc_a").first()[0] == 35
    finally:
        q.stop()


def test_partition_values_typed_from_dirs(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_write(
        spark.range(30).select("id", (F.col("id") % 3).alias("k")),
        t,
        partition_by=["k"],
    )
    q = _mem_stream(spark, t, "txsrc_b")
    try:
        q.processAllAvailable()
        assert dict(spark.table("txsrc_b").dtypes)["k"] == "bigint"
        rows = spark.sql(
            "select k, count(*) as n from txsrc_b group by k order by k"
        ).collect()
        assert [(r.k, r.n) for r in rows] == [(0, 10), (1, 10), (2, 10)]
    finally:
        q.stop()


def test_row_changing_commit_fails_stream(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_write(spark.range(20).select("id", (F.col("id") % 5).alias("v")), t)
    tx_delete_where(spark, t, "v = 1")
    q = _mem_stream(spark, t, "txsrc_c")
    try:
        with pytest.raises(Exception):
            q.processAllAvailable()
        assert "insert-only" in str(q.exception())
    finally:
        q.stop()


def test_checkpointed_restart_resumes(spark, tmp_path):
    t = str(tmp_path / "t")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    register_tx_source(spark)
    tx_write(spark.range(10).select("id"), t)

    def run_once():
        q = (
            spark.readStream.format("txtable").option("path", t).load()
            .writeStream.format("parquet")
            .option("checkpointLocation", ck)
            .start(out)
        )
        q.processAllAvailable()
        q.stop()

    run_once()
    tx_write(spark.range(10, 25).select("id"), t)
    run_once()  # restart from Spark's checkpoint: only the delta lands
    got = spark.read.parquet(out)
    assert got.count() == 25
    assert got.select(F.sum("id")).first()[0] == sum(range(25))


def test_column_mapped_table_streams_logical_names(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_write(spark.range(10).select("id", (F.col("id") % 2).alias("v")), t)
    tx_rename_column(spark, t, "v", "flag")
    q = _mem_stream(spark, t, "txsrc_d")
    try:
        q.processAllAvailable()
        df = spark.table("txsrc_d")
        assert "flag" in df.columns and "v" not in df.columns
        # pre-rename files read bit-exactly under the new logical name
        assert df.filter("flag = 1").count() == 5
    finally:
        q.stop()


def test_evolved_schema_null_fills_old_files(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_write(spark.range(5).select("id"), t)
    tx_write(
        spark.range(5, 8).select("id", F.lit("x").alias("tag")),
        t,
        schema_mode="merge",
    )
    q = _mem_stream(spark, t, "txsrc_e")
    try:
        q.processAllAvailable()
        df = spark.table("txsrc_e")
        assert set(df.columns) == {"id", "tag"}
        assert df.filter(F.col("tag").isNull()).count() == 5
        assert df.filter("tag = 'x'").count() == 3
    finally:
        q.stop()


def test_batch_reader_snapshot_and_time_travel(spark, tmp_path):
    t = str(tmp_path / "t")
    register_tx_source(spark)
    tx_write(
        spark.range(30).select("id", (F.col("id") % 3).alias("k")),
        t,
        partition_by=["k"],
    )
    v0_rows = 30
    tx_write(spark.range(30, 50).select("id", (F.col("id") % 3).alias("k")), t)
    df = spark.read.format("txtable").option("path", t).load()
    assert df.count() == 50
    assert dict(df.dtypes)["k"] == "bigint"
    old = (
        spark.read.format("txtable")
        .option("path", t).option("version", 0).load()
    )
    assert old.count() == v0_rows


@pytest.mark.slow  # round-16 tier: driver-window default excludes it
def test_batch_reader_applies_deletion_vectors(spark, tmp_path):
    from distributed_mapreduce__spark.sources.txlog import tx_update

    t = str(tmp_path / "t")
    register_tx_source(spark)
    tx_write(
        spark.range(100).select("id", (F.col("id") % 10).alias("v")), t
    )
    tx_delete_where(spark, t, "v = 3")
    tx_update(spark, t, "v = 4", {"v": "v + 100"})
    df = spark.read.format("txtable").option("path", t).load()
    assert df.count() == 90
    assert df.filter("v = 3").count() == 0  # DV-deleted rows never resurrect
    assert df.filter("v = 104").count() == 10  # update post-images deliver
    assert df.filter("v = 4").count() == 0


def test_batch_reader_refuses_equality_tombstones(spark, tmp_path):
    from distributed_mapreduce__spark.sources.txlog import tx_delete

    t = str(tmp_path / "t")
    register_tx_source(spark)
    tx_write(spark.range(20).select("id"), t)
    tx_delete(
        spark.range(3).select("id"), t, "id", mode="merge_on_read"
    )
    with pytest.raises(Exception, match="equality tombstones"):
        spark.read.format("txtable").option("path", t).load().count()


@pytest.mark.slow  # round-16 tier: driver-window default excludes it
def test_logview_replay_parity_over_randomized_history(spark, tmp_path):
    """VERDICT r12 #4: _LogView reimplements the _replay fold in pure
    python (the DataSource planning lifecycle has no SparkSession), so
    a behavioral divergence below the reader-version stamp would only
    surface as wrong streaming batches. Pin the two folds together: a
    seeded random history of every commit shape both understand —
    append, overwrite, merge, equality delete (mor), DV delete,
    DV update, compact, apply_deletes, checkpoint, vacuum — must
    produce IDENTICAL (eps, mor, dv) from both implementations at the
    current version after every op, and at every surviving historical
    version at the end; the schema fold must agree too (modulo
    _LogView's declared force-nullable rule)."""
    import json
    import random

    from distributed_mapreduce__spark.sources.txlog import (
        _replay,
        _write_checkpoint,
        tx_apply_deletes,
        tx_delete,
        tx_merge,
        tx_update,
        tx_vacuum,
    )
    from distributed_mapreduce__spark.streaming.tx_source import _LogView

    rng = random.Random(20260816)
    t = str(tmp_path / "t")

    def mk(lo, hi, tag):
        return spark.range(lo, hi).select(
            "id", F.lit(tag).alias("tag")
        )

    def norm_mor_dv(entries):
        return [
            {k: (sorted(v) if isinstance(v, list) else v)
             for k, v in e.items()}
            for e in entries
        ]

    def assert_parity(version=None):
        snap = _replay(spark, t, version=version)
        eps, mor, dv = _LogView(t).snapshot_files(version)
        assert eps == snap.eps, f"eps diverge at v={version}"
        assert norm_mor_dv(mor) == norm_mor_dv(snap.mor), (
            f"mor diverge at v={version}"
        )
        assert norm_mor_dv(dv) == norm_mor_dv(snap.dv), (
            f"dv diverge at v={version}"
        )

    tx_write(mk(0, 40, "base").repartition(3), t, stats_cols=["id"])
    assert_parity()
    seq = 0
    for step in range(24):
        op = rng.choice(
            ["append", "append", "merge", "eq_delete", "dv_delete",
             "dv_update", "overwrite", "compact", "apply", "ckpt",
             "vacuum"]
        )
        seq += 1
        lo = rng.randrange(0, 80)
        try:
            if op == "append":
                tx_write(mk(lo, lo + rng.randint(1, 9), f"a{seq}"), t)
            elif op == "merge":
                tx_merge(mk(lo, lo + 4, f"m{seq}"), t, "id")
            elif op == "eq_delete":
                tx_delete(
                    spark.range(lo, lo + 3).select("id"), t, "id"
                )
            elif op == "dv_delete":
                tx_delete_where(spark, t, f"id % 7 = {lo % 7}")
            elif op == "dv_update":
                tx_update(
                    spark, t, f"id % 5 = {lo % 5}",
                    {"tag": f"'u{seq}'"},
                )
            elif op == "overwrite":
                tx_write(mk(lo, lo + 6, f"o{seq}"), t, mode="overwrite")
            elif op == "compact":
                tx_compact(spark, t)
            elif op == "apply":
                tx_apply_deletes(spark, t)
            elif op == "ckpt":
                _write_checkpoint(
                    spark, t, _replay(spark, t).version
                )
            elif op == "vacuum":
                tx_vacuum(spark, t)
        except (RuntimeError, ValueError):
            # legal refusals (e.g. compact/merge over live DV debt)
            # still leave the log consistent — parity must hold anyway
            pass
        assert_parity()

    # every surviving version replays identically through both folds
    view = _LogView(t)
    snap_now = _replay(spark, t)
    for v in sorted({v for v, _ in view.commits()}):
        try:
            assert_parity(version=v)
        except (ValueError, FileNotFoundError, RuntimeError):
            # below-the-checkpoint history both sides may refuse;
            # the CURRENT version must always compare (proven above)
            assert v < snap_now.version

    # schema fold parity (modulo the declared force-nullable rule)
    logical = json.loads(view.schema_json())
    recorded = json.loads(snap_now.schema)
    recorded["fields"] = [
        {**f, "nullable": True} for f in recorded["fields"]
    ]
    assert logical == recorded


def test_planner_fs_seam_plans_object_store_shape(spark, tmp_path):
    """VERDICT r12 #7: planning I/O is a SEAM. Mirror a real table's
    bytes into an in-memory store under mem://, bind it with
    register_planner_fs, and the SAME fold must plan identically:
    commits, schema, snapshot files, change sets, and the batch
    reader's partitions (including DV drop-lists) all equal the
    local planning — proving the object-store shape without network
    access. file: URIs keep working through the fast path."""
    import io
    import os

    from distributed_mapreduce__spark.sources.txlog import tx_write
    from distributed_mapreduce__spark.streaming.tx_source import (
        _LogView,
        _SCHEME_FS,
        TxTableBatchReader,
        register_planner_fs,
    )

    class _DictFS:
        def __init__(self, files):
            self.files = files

        def _asdir(self, p):
            return p.rstrip("/") + "/"

        def isdir(self, p):
            d = self._asdir(p)
            return any(k.startswith(d) for k in self.files)

        def listdir(self, p):
            d = self._asdir(p)
            return sorted(
                {
                    k[len(d):].split("/", 1)[0]
                    for k in self.files
                    if k.startswith(d)
                }
            )

        def exists(self, p):
            return p in self.files or self.isdir(p)

        def read_text(self, p):
            return self.files[p].decode()

        def arrow_read(self, p):
            import pyarrow.parquet as pq

            return pq.read_table(io.BytesIO(self.files[p]))

    t = str(tmp_path / "t")
    tx_write(spark.range(50).select("id").repartition(3), t)
    tx_write(spark.range(50, 80).select("id"), t)
    tx_delete_where(spark, t, "id % 11 = 0")  # a DV for the drop-lists

    # mirror every byte into the fake store under mem://tbl
    files = {}
    for root, _dirs, names in os.walk(t):
        for n in names:
            full = os.path.join(root, n)
            rel = os.path.relpath(full, t)
            with open(full, "rb") as fh:
                files[f"mem://tbl/{rel}"] = fh.read()
    register_planner_fs("mem", _DictFS(files))
    try:
        local, remote = _LogView(t), _LogView("mem://tbl")
        assert remote.commits() == local.commits()
        assert remote.schema_json() == local.schema_json()
        l_eps, l_mor, l_dv = local.snapshot_files()
        r_eps, r_mor, r_dv = remote.snapshot_files()
        assert (r_eps, r_mor, r_dv) == (l_eps, l_mor, l_dv)
        assert remote.change_files(-1, 1) == local.change_files(-1, 1)

        # batch-reader planning: same files, same DV drop-lists,
        # modulo the path prefix
        def plan(path):
            rd = TxTableBatchReader({"path": path}, local.schema_json())
            return sorted(
                (p.abs_path.rsplit("/data/", 1)[-1], p.drop_positions)
                for p in rd.partitions()
            )

        assert plan("mem://tbl") == plan(t)
        # file: URI still plans through the local fast path
        assert _LogView(f"file://{t}").commits() == local.commits()

        # the session's Hadoop adapter, forced onto the same local
        # table, folds to the same snapshot as the native FS
        from distributed_mapreduce__spark.sources import txlog_core

        native = txlog_core._replay(None, t)
        hadoop = txlog_core._HadoopFS(spark)
        log_fs = txlog_core._log_fs
        txlog_core._log_fs = lambda s, p: (hadoop, p)
        try:
            assert txlog_core._replay(spark, t) == native
        finally:
            txlog_core._log_fs = log_fs
    finally:
        _SCHEME_FS.pop("mem", None)


def test_with_row_ids_stream_carries_stable_ids(spark, tmp_path):
    """option("withRowIds", "true"): the insert feed leads with the
    stable _row_id from each commit's recorded bases — sample-level
    provenance for training-data consumers. The streamed ids must
    equal the engine's own id scan for the same rows, and a stream
    over pre-tracking commits refuses loudly."""
    from distributed_mapreduce__spark.sources.txlog import (
        tx_enable_row_tracking,
        tx_scan_with_row_ids,
    )

    t = str(tmp_path / "t")
    tx_write(spark.range(20).select("id"), t)
    tx_enable_row_tracking(spark, t)
    v_enable = 1
    register_tx_source(spark)
    q = (
        spark.readStream.format("txtable")
        .option("path", t)
        .option("withRowIds", "true")
        .option("startingVersion", v_enable)
        .load()
        .writeStream.format("memory").queryName("txsrc_ids").start()
    )
    try:
        tx_write(spark.range(100, 130).select("id"), t)
        tx_write(spark.range(200, 210).select("id"), t)
        q.processAllAvailable()
        got = {
            r._row_id: r.id
            for r in spark.table("txsrc_ids").collect()
        }
        want = {
            r._row_id: r.id
            for r in tx_scan_with_row_ids(spark, t).collect()
            if r.id >= 100  # the feed starts after the enable version
        }
        assert got == want and len(got) == 40
    finally:
        q.stop()
    # pre-tracking commits have no bases: the id stream must refuse
    q2 = (
        spark.readStream.format("txtable")
        .option("path", t)
        .option("withRowIds", "true")
        .load()
        .writeStream.format("memory").queryName("txsrc_ids2").start()
    )
    try:
        with pytest.raises(Exception):
            q2.processAllAvailable()
        assert "predates" in str(q2.exception())
    finally:
        q2.stop()


@pytest.mark.slow  # round-16 tier: driver-window default excludes it
def test_max_versions_per_trigger_bounds_backlog(spark, tmp_path):
    """Round 15 (VERDICT r14 #4): a k-commit backlog drains in
    ceil(k/n) micro-batches under maxVersionsPerTrigger=n — no more
    whole-backlog memory cliff — and exactly-once holds across a
    mid-drain restart."""
    t = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    for i in range(6):
        tx_write(spark.range(i * 5, (i + 1) * 5).select("id"), t)
    register_tx_source(spark)

    batches = []

    def sink(df, bid):
        batches.append((bid, sorted(r.id for r in df.collect())))

    q = (
        spark.readStream.format("txtable").option("path", t)
        .option("maxVersionsPerTrigger", "2").load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # 6 commits / 2 per trigger = 3 batches of 10 rows each
    sizes = [len(ids) for _b, ids in batches if ids]
    assert sizes == [10, 10, 10], batches
    assert sorted(i for _b, ids in batches for i in ids) == list(range(30))

    # mid-drain restart: 4 more commits; first query instance takes
    # one bounded batch, a restarted instance drains the rest —
    # nothing lost, nothing re-delivered
    for i in range(6, 10):
        tx_write(spark.range(i * 5, (i + 1) * 5).select("id"), t)
    seen2 = []

    def sink2(df, bid):
        seen2.append(sorted(r.id for r in df.collect()))

    q2 = (
        spark.readStream.format("txtable").option("path", t)
        .option("maxVersionsPerTrigger", "3").load()
        .writeStream.foreachBatch(sink2)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)  # single-batch fallback: one step
        .start()
    )
    q2.awaitTermination()
    q3 = (
        spark.readStream.format("txtable").option("path", t)
        .option("maxVersionsPerTrigger", "3").load()
        .writeStream.foreachBatch(sink2)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q3.processAllAvailable()
    finally:
        q3.stop()
    flat = sorted(i for ids in seen2 for i in ids)
    assert flat == list(range(30, 50))


def test_max_files_per_trigger_soft_cap(spark, tmp_path):
    """maxFilesPerTrigger closes the batch at the first commit
    boundary at or above the budget — commit-granular, never splits
    a commit's files."""
    t = str(tmp_path / "t")
    for i in range(4):  # 4 commits x 3 files
        tx_write(
            spark.range(i * 9, (i + 1) * 9).repartition(3).select("id"),
            t,
        )
    register_tx_source(spark)
    batches = []

    def sink(df, bid):
        batches.append(df.count())

    q = (
        spark.readStream.format("txtable").option("path", t)
        .option("maxFilesPerTrigger", "4").load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # budget 4 over 3-file commits -> 2 commits per batch (18 rows)
    assert [n for n in batches if n] == [18, 18]


def test_fsspec_planner_fs_claimer_write_path(spark, tmp_path):
    """Round 15 (VERDICT r14 #8 + ADVICE r14 medium): the WRITE side
    of the planner-FS seam against an fsspec-shaped in-memory object
    store. Without a registered claimer, commit publication on a
    rename-unsafe scheme REFUSES loudly (no exists-then-write race);
    with txlog's S3 conditional-put claimer registered, the sink
    stages, claims, commits, crash-replays, and reads back entirely
    through _FsspecPlannerFS."""
    import io
    import os

    from distributed_mapreduce__spark.sources.txlog import (
        _CLAIMERS,
        S3ConditionalPutClaimer,
        register_claimer,
        tx_write,
    )
    from distributed_mapreduce__spark.streaming.tx_source import (
        _SCHEME_FS,
        _FsspecPlannerFS,
        _LogView,
        TxTableBatchReader,
        TxTableStreamWriter,
        register_planner_fs,
    )

    store: dict = {}

    class _W(io.BytesIO):
        def __init__(self, path, text=False):
            super().__init__()
            self._path, self._text = path, text

        def write(self, b):
            return super().write(
                b.encode() if isinstance(b, str) else b
            )

        def close(self):
            store[self._path] = self.getvalue()
            super().close()

        def __exit__(self, *a):
            self.close()

    class _FakeFsspec:
        def isdir(self, p):
            d = p.rstrip("/") + "/"
            return any(k.startswith(d) for k in store)

        def ls(self, p, detail=False):
            d = p.rstrip("/") + "/"
            return sorted(
                {d + k[len(d):].split("/", 1)[0] for k in store
                 if k.startswith(d)}
            )

        def exists(self, p):
            return p in store or self.isdir(p)

        def open(self, p, mode="rb"):
            if "w" in mode:
                return _W(p, text="b" not in mode)
            data = store[p]
            return (
                io.BytesIO(data) if "b" in mode
                else io.StringIO(data.decode())
            )

        def rm(self, p):
            if p not in store:
                raise FileNotFoundError(p)
            del store[p]

    class _ClientErr(Exception):
        def __init__(self, code):
            super().__init__(code)
            self.response = {"Error": {"Code": code}}

    class _FakeS3Client:
        def put_object(self, Bucket, Key, Body, IfNoneMatch):
            assert IfNoneMatch == "*"
            path = f"s3://{Bucket}/{Key}"
            if path in store:
                raise _ClientErr("PreconditionFailed")
            store[path] = Body if isinstance(Body, bytes) else bytes(Body)
            return {}

    # seed a real table locally, mirror its bytes under s3://bkt/tbl
    seed = str(tmp_path / "seed")
    tx_write(
        spark.createDataFrame([], "id long, tag string"), seed
    )
    for root, _d, names in os.walk(seed):
        for n in names:
            rel = os.path.relpath(os.path.join(root, n), seed)
            with open(os.path.join(root, n), "rb") as fh:
                store[f"s3://bkt/tbl/{rel}"] = fh.read()

    register_planner_fs("s3", _FsspecPlannerFS(_FakeFsspec()))
    try:
        w = TxTableStreamWriter(
            {"path": "s3://bkt/tbl", "appid": "obj"},
            _LogView("s3://bkt/tbl").schema_json(),
        )
        import pyarrow as pa

        batch = iter(
            pa.Table.from_pydict(
                {"id": [1, 2, 3], "tag": ["a", "b", "c"]},
                schema=pa.schema(
                    [("id", pa.int64()), ("tag", pa.string())]
                ),
            ).to_batches()
        )
        m = w.write(batch)
        # no claimer for s3: the commit REFUSES instead of racing
        with pytest.raises(NotImplementedError, match="put-if-absent"):
            w.commit([m], 0)
        register_claimer("s3", S3ConditionalPutClaimer(_FakeS3Client()))
        w.commit([m], 0)
        # crash replay: same batch id dedupes, staged duplicate removed
        m2 = w.write(
            iter(pa.Table.from_pydict(
                {"id": [1], "tag": ["a"]},
                schema=pa.schema(
                    [("id", pa.int64()), ("tag", pa.string())]
                ),
            ).to_batches())
        )
        n_before = len(store)
        w.commit([m2], 0)
        assert len(store) == n_before - 1  # the dup staged file gone
        # read back through the same seam
        rd = TxTableBatchReader(
            {"path": "s3://bkt/tbl"}, _LogView("s3://bkt/tbl").schema_json()
        )
        rows = sorted(
            (r["id"], r["tag"])
            for p in rd.partitions()
            if p.abs_path
            for t in rd.read(p)
            for r in t.to_pylist()
        )
        assert rows == [(1, "a"), (2, "b"), (3, "c")]
    finally:
        _SCHEME_FS.pop("s3", None)
        _CLAIMERS.pop("s3", None)


def test_max_bytes_per_trigger_soft_cap(spark, tmp_path):
    """maxBytesPerTrigger (Delta's twin bound, round 15 late) closes
    the batch at the first commit boundary at or above the byte
    budget — commit-granular like the files/versions bounds, priced
    by one planner-FS stat per candidate file only when the option
    is set (the log records no sizes)."""
    import glob
    import os

    t = str(tmp_path / "t")
    for i in range(4):  # 4 single-file commits of similar size
        tx_write(
            spark.range(i * 9, (i + 1) * 9).coalesce(1).select("id"), t
        )
    sizes = sorted(
        os.path.getsize(p) for p in glob.glob(f"{t}/data/*.parquet")
    )
    register_tx_source(spark)
    batches = []

    def sink(df, bid):
        batches.append(df.count())

    # a 1-byte budget: every commit's first file crosses it, so each
    # batch is exactly one commit (the soft cap includes the crossing
    # commit — Delta's maxBytesPerTrigger rule)
    assert sizes[0] > 1
    q = (
        spark.readStream.format("txtable").option("path", t)
        .option("maxBytesPerTrigger", "1").load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # budget just over one file -> exactly one commit per batch
    assert [n for n in batches if n] == [9, 9, 9, 9]
