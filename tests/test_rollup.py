"""Incremental rollup store (operators/timeseries.py, a txlog table):
batch-by-batch upserts must equal the full recompute exactly, retried
batches must not double-count, and compaction must preserve the rollup
— a crash before its commit changes no read, a fold committed while it
runs stays counted, and the ids it retires stay retired through later
compactions and vacuum."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from distributed_mapreduce__spark.operators.timeseries import (
    _batches,
    _store_snapshot,
    compact_rollup,
    read_rollup,
    retired_rollup_ids,
    tumbling,
    upsert_rollup,
    vacuum_rollup,
)
from distributed_mapreduce__spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"
KEYS = ("event_type",)


@pytest.fixture(scope="module")
def batches(spark):
    ev = load_table(spark, SF, "events").select("ts", "value", "event_type")
    return [ev.filter(F.col("user_id") % 3 == i) for i in range(3)], ev


def _snapshot(spark, store):
    return {
        (r.window_start, r.event_type): (r.n_events, r.sum_value, r.avg_value)
        for r in read_rollup(spark, store, KEYS).collect()
    }


def _live(spark, store):
    """Live batch ids, from the store's log alone."""
    return sorted(_batches(_store_snapshot(spark, store)))


def _recompute(parts):
    full = parts[0]
    for p in parts[1:]:
        full = full.unionByName(p)
    return {
        (r.window_start, r.event_type): (r.n_events, r.sum_value, r.avg_value)
        for r in tumbling(full, "1 hour", *KEYS).collect()
    }


class _Crash(Exception):
    pass


def _crash():
    raise _Crash("process died before the commit published")


def test_incremental_equals_full_recompute(spark, batches, tmp_path):
    parts, full = batches
    store = str(tmp_path / "roll")
    for i, b in enumerate(parts):
        upsert_rollup(b, store, "1 hour", KEYS, batch_id=str(i))
    got = _snapshot(spark, store)
    want = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value, r.avg_value)
        for r in tumbling(full, "1 hour", *KEYS).collect()
    }
    assert got == want  # exact decimal merge → bit-equal doubles


def test_retried_batch_is_idempotent(spark, batches, tmp_path):
    parts, _ = batches
    store = str(tmp_path / "roll")
    for i, b in enumerate(parts):
        upsert_rollup(b, store, "1 hour", KEYS, batch_id=str(i))
    before = _snapshot(spark, store)
    upsert_rollup(parts[1], store, "1 hour", KEYS, batch_id="1")  # retry
    assert _snapshot(spark, store) == before


def test_compaction_preserves_and_bounds(spark, batches, tmp_path):
    parts, _ = batches
    store = str(tmp_path / "roll")
    for i, b in enumerate(parts):
        upsert_rollup(b, store, "1 hour", KEYS, batch_id=str(i))
    before = _snapshot(spark, store)
    target = compact_rollup(spark, store, KEYS)
    assert target == "c0"
    assert _snapshot(spark, store) == before
    assert _live(spark, store) == ["c0"]
    assert retired_rollup_ids(spark, store) == {"0", "1", "2"}
    # nothing left to compact
    assert compact_rollup(spark, store, KEYS) is None
    # further batches still merge on top of the compacted base
    upsert_rollup(parts[0], store, "1 hour", KEYS, batch_id="again")
    after = _snapshot(spark, store)
    assert after != before and set(after) >= set(before)


def test_crash_windows(
    spark, batches, tmp_path, during_publish
):
    """A compaction that dies after staging its merged files but before
    its commit publishes leaves every read, the live batches and the
    retired set as they were; its staged files are debris vacuum
    removes, and the next compaction commits normally."""
    parts, _ = batches
    store = str(tmp_path / "roll")
    for i, b in enumerate(parts[:2]):
        upsert_rollup(b, store, "1 hour", KEYS, batch_id=str(i))
    before = _snapshot(spark, store)

    during_publish(_crash)
    with pytest.raises(_Crash):
        compact_rollup(spark, store, KEYS)
    assert _snapshot(spark, store) == before
    assert _live(spark, store) == ["0", "1"]
    assert retired_rollup_ids(spark, store) == set()
    # the ids are still live: a replay of either is a txn no-op
    upsert_rollup(parts[0], store, "1 hour", KEYS, batch_id="0")
    assert _snapshot(spark, store) == before

    assert vacuum_rollup(spark, store) == ["c0"]  # the staged target
    assert _snapshot(spark, store) == before
    assert compact_rollup(spark, store, KEYS) == "c0"
    assert _snapshot(spark, store) == before
    assert _live(spark, store) == ["c0"]


def test_fold_inside_compaction_window_stays_counted(
    spark, batches, tmp_path, during_publish
):
    """A fold that commits while a compaction is in flight (inside its
    publish window, so the compaction retries on the moved log) stays
    live: the compaction removes exactly the files it read."""
    parts, _ = batches
    store = str(tmp_path / "roll")
    for i, b in enumerate(parts[:2]):
        upsert_rollup(b, store, "1 hour", KEYS, batch_id=str(i))
    during_publish(
        lambda: upsert_rollup(parts[2], store, "1 hour", KEYS, batch_id="2")
    )
    assert compact_rollup(spark, store, KEYS) == "c0"
    assert _live(spark, store) == ["2", "c0"]
    assert _snapshot(spark, store) == _recompute(parts)


def test_reserved_namespace_guard(spark, batches, tmp_path):
    parts, _ = batches
    with pytest.raises(ValueError, match="reserved"):
        upsert_rollup(parts[0], str(tmp_path / "x"), "1 hour", KEYS, batch_id="c1")


def test_stream_rollup_matches_batch(spark, batches, tmp_path):
    """foreachBatch streaming ingestion into the store == the batch
    tumbling aggregation of everything streamed, and a restart from
    the same checkpoint re-processes nothing."""
    from distributed_mapreduce__spark.streaming.windows import stream_rollup

    _, full = batches
    src = str(tmp_path / "src")
    store = str(tmp_path / "roll")
    ckpt = str(tmp_path / "ckpt")
    full.repartition(3).write.mode("overwrite").parquet(src)

    def start():
        stream = (
            spark.readStream.schema(full.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        return stream_rollup(stream, store, ckpt, "1 hour", KEYS)

    q = start()
    try:
        q.processAllAvailable()
        assert len(q.recentProgress) >= 3
    finally:
        q.stop()
    got = _snapshot(spark, store)
    want = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value, r.avg_value)
        for r in tumbling(full, "1 hour", *KEYS).collect()
    }
    assert got == want
    # restart: checkpoint says everything is processed → store unchanged
    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert _snapshot(spark, store) == want


def test_retired_batch_id_refused(spark, batches, tmp_path):
    """A batch id retired by a committed compaction cannot be reused —
    its rows would be invisible to every read (the lost-checkpoint
    stream-restart hazard). The guard raises instead."""
    parts, _ = batches
    store = str(tmp_path / "roll")
    for i, b in enumerate(parts[:2]):
        upsert_rollup(b, store, "1 hour", KEYS, batch_id=str(i))
    compact_rollup(spark, store, KEYS)
    with pytest.raises(ValueError, match="retired"):
        upsert_rollup(parts[0], store, "1 hour", KEYS, batch_id="0")
    # fresh ids still work
    upsert_rollup(parts[0], store, "1 hour", KEYS, batch_id="fresh")


def test_vacuum_deletes_only_dead_dirs(spark, batches, tmp_path, during_publish):
    """Vacuum removes the files of retired batches and a crashed
    compaction's staged target, never a live file, and never changes
    what reads see; a retired id is still refused after it."""
    import os

    parts, _ = batches
    store = str(tmp_path / "roll")
    for i, b in enumerate(parts[:2]):
        upsert_rollup(b, store, "1 hour", KEYS, batch_id=str(i))
    compact_rollup(spark, store, KEYS)  # retires 0,1 -> c0
    upsert_rollup(parts[2], store, "1 hour", KEYS, batch_id="live")
    during_publish(_crash)
    with pytest.raises(_Crash):
        compact_rollup(spark, store, KEYS)  # stages c1, never commits

    before = _snapshot(spark, store)
    live_files = sorted(_store_snapshot(spark, store).eps)
    deleted = vacuum_rollup(spark, store)
    assert deleted == ["0", "1", "c1"]  # retired sources + staged debris
    assert _snapshot(spark, store) == before
    assert sorted(_store_snapshot(spark, store).eps) == live_files
    assert all(os.path.exists(f"{store}/{f}") for f in live_files)
    assert vacuum_rollup(spark, store) == []
    with pytest.raises(ValueError, match="retired"):
        upsert_rollup(parts[0], store, "1 hour", KEYS, batch_id="0")

    upsert_rollup(parts[0], store, "1 hour", KEYS, batch_id="more")
    assert compact_rollup(spark, store, KEYS) == "c1"
    assert _snapshot(spark, store) != before  # 'more' merged in
    assert vacuum_rollup(spark, store) == ["c0", "live", "more"]


def test_extract_links_and_domain_ranks(spark):
    """HTML → href edges → registered-domain PageRank, with a DuckDB
    replay of the extraction regex."""
    from distributed_mapreduce__spark.operators.lines import (
        extract_links,
        html_link_graph,
    )

    rows = [
        (
            "http://a.example/p1",
            '<a href="http://b.example/x">b</a> '
            "<a href='https://c.example/y?z=1'>c</a> "
            '<a href="/relative">rel</a> <a href="#frag">f</a>',
        ),
        ("http://b.example/p2", '<a href="http://c.example/z">c</a>'),
        ("http://c.example/p3", "no links here"),
    ]
    docs = spark.createDataFrame(rows, "url string, text string")
    got = {
        (r.src_url, r.dst_url) for r in extract_links(docs).collect()
    }
    assert got == {
        ("http://a.example/p1", "http://b.example/x"),
        ("http://a.example/p1", "https://c.example/y?z=1"),
        ("http://b.example/p2", "http://c.example/z"),
    }
    import duckdb

    con = duckdb.connect()
    vals = ", ".join(
        "(" + ", ".join("'" + v.replace("'", "''") + "'" for v in r) + ")"
        for r in rows
    )
    want = set(
        con.execute(
            f"""
            SELECT url, unnest(regexp_extract_all(
                text, 'href\\s*=\\s*["''](https?://[^"''<>]+)["'']', 1))
            FROM (VALUES {vals}) t(url, text)
            """
        ).fetchall()
    )
    con.close()
    assert got == want

    ranks = {r.domain: r.rank for r in html_link_graph(docs).collect()}
    # c.example is linked by both others -> highest centrality
    assert max(ranks, key=ranks.get) == "c.example"


def test_chain_compaction_never_resurrects_sources(spark, batches, tmp_path):
    """A second compaction (which retires the first target) must not
    bring back the first compaction's sources: their ids stay retired
    — refused, skipped by reads — through both compactions and the
    vacuum that deletes their files."""
    parts, _ = batches
    store = str(tmp_path / "roll")
    for i, b in enumerate(parts[:2]):
        upsert_rollup(b, store, "1 hour", KEYS, batch_id=str(i))
    truth_01 = _snapshot(spark, store)
    compact_rollup(spark, store, KEYS)  # c0 <- {0,1}
    upsert_rollup(parts[2], store, "1 hour", KEYS, batch_id="2")
    truth_all = _snapshot(spark, store)
    assert compact_rollup(spark, store, KEYS) == "c1"  # c1 <- {c0, 2}
    assert _live(spark, store) == ["c1"]
    assert _snapshot(spark, store) == truth_all == _recompute(parts)
    assert retired_rollup_ids(spark, store) == {"0", "1", "2"}
    for bid in ("0", "1"):
        with pytest.raises(ValueError, match="retired"):
            upsert_rollup(parts[0], store, "1 hour", KEYS, batch_id=bid)
    assert vacuum_rollup(spark, store) == ["0", "1", "2", "c0"]
    assert _snapshot(spark, store) == truth_all
    assert retired_rollup_ids(spark, store) == {"0", "1", "2"}
    assert truth_all != truth_01


def test_duration_pinning_and_coarsen(spark, batches, tmp_path):
    """The store pins its base window width (mixing widths corrupts
    merged reads — refused loudly); coarsen re-buckets at read and
    must equal the direct coarse tumbling aggregation."""
    from distributed_mapreduce__spark.operators.timeseries import (
        read_rollup,
    )

    parts, full = batches
    store = str(tmp_path / "roll")
    for i, b in enumerate(parts):
        upsert_rollup(b, store, "1 hour", KEYS, batch_id=str(i))
    # mixed width refused
    with pytest.raises(ValueError, match="refusing to upsert"):
        upsert_rollup(parts[0], store, "2 hours", KEYS, batch_id="w")
    # unsupported syntax refused
    with pytest.raises(ValueError, match="unsupported rollup duration"):
        upsert_rollup(parts[0], str(tmp_path / "x"), "1 fortnight", KEYS)

    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value, r.avg_value)
        for r in read_rollup(spark, store, KEYS, coarsen="1 day").collect()
    }
    want = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value, r.avg_value)
        for r in tumbling(full, "1 day", *KEYS).collect()
    }
    assert got == want  # hourly partials nest exactly into days
    # non-multiple coarsening refused
    with pytest.raises(ValueError, match="not a multiple"):
        read_rollup(spark, store, KEYS, coarsen="90 minutes")


def test_writer_prefix_collision_raises(spark, batches, tmp_path):
    """Two concurrent streams sharing one store must NOT share a batch
    prefix: each numbers batches from its own checkpoint, so same-named
    ``batch=s<n>`` dirs would silently overwrite each other. The claim
    sidecar turns that silent clobber into a loud error; distinct
    writer ids fan in additively."""
    from distributed_mapreduce__spark.operators.timeseries import (
        claim_rollup_writer,
    )
    from distributed_mapreduce__spark.streaming.windows import stream_rollup

    parts, full = batches
    store = str(tmp_path / "roll")
    src_a, src_b = str(tmp_path / "a"), str(tmp_path / "b")
    ck_a, ck_b = str(tmp_path / "cka"), str(tmp_path / "ckb")
    parts[0].write.mode("overwrite").parquet(src_a)
    parts[1].write.mode("overwrite").parquet(src_b)

    def reader(src):
        return spark.readStream.schema(full.schema).parquet(src)

    qa = stream_rollup(reader(src_a), store, ck_a, "1 hour", KEYS)
    try:
        qa.processAllAvailable()
        # second stream, DIFFERENT checkpoint, same default prefix →
        # refused before it can clobber batch=s0
        with pytest.raises(ValueError, match="claimed by the stream"):
            stream_rollup(reader(src_b), store, ck_b, "1 hour", KEYS)
    finally:
        qa.stop()

    # restart of stream A (same checkpoint) re-enters its claim
    qa2 = stream_rollup(reader(src_a), store, ck_a, "1 hour", KEYS)
    try:
        qa2.processAllAvailable()
    finally:
        qa2.stop()

    # distinct writer id → both streams coexist; reads merge their rows
    qb = stream_rollup(reader(src_b), store, ck_b, "1 hour", KEYS, writer="w2")
    try:
        qb.processAllAvailable()
    finally:
        qb.stop()
    both = parts[0].unionByName(parts[1])
    want = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value, r.avg_value)
        for r in tumbling(both, "1 hour", *KEYS).collect()
    }
    assert _snapshot(spark, store) == want

    # reserved / malformed prefixes rejected up front
    with pytest.raises(ValueError, match="reserved"):
        claim_rollup_writer(spark, store, "c3", "ck")
    with pytest.raises(ValueError, match="non-empty"):
        claim_rollup_writer(spark, store, "a=b", "ck")
