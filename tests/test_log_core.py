"""The commit log is folded and claimed in one place,
``sources/txlog_core.py``: txlog, multitx and the ``txtable``
DataSource all call it. These tests pin that the fold and the claim
loop stay single, that the sink's commits go through the same claim
loop (constraint re-check after a lost race, link(2) publish), and how
many log listings and commit reads each kind of op costs."""

from __future__ import annotations

import inspect
import os
import re

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

import distributed_mapreduce__spark as pkg
from distributed_mapreduce__spark.sources import txlog, txlog_core
from distributed_mapreduce__spark.sources.multitx import tx_multi
from distributed_mapreduce__spark.sources.txlog import (
    _replay,
    tx_add_constraint,
    tx_merge,
    tx_read,
    tx_update,
    tx_write,
)
from distributed_mapreduce__spark.streaming import tx_source as txs
from distributed_mapreduce__spark.streaming.table_stream import (
    pipe_available_now,
)


def _package_hits(pattern: str) -> "set[tuple[str, int]]":
    root = os.path.dirname(os.path.abspath(pkg.__file__))
    hits = set()
    for d, _, names in os.walk(root):
        for n in names:
            if not n.endswith(".py"):
                continue
            p = os.path.join(d, n)
            with open(p, encoding="utf-8") as fh:
                for i, line in enumerate(fh, 1):
                    if re.search(pattern, line):
                        hits.add((os.path.relpath(p, root), i))
    return hits


def _lines_of(fn, pattern: str) -> "set[tuple[str, int]]":
    root = os.path.dirname(os.path.abspath(pkg.__file__))
    rel = os.path.relpath(inspect.getsourcefile(fn), root)
    lines, start = inspect.getsourcelines(fn)
    return {
        (rel, start + k) for k, line in enumerate(lines)
        if re.search(pattern, line)
    }


def test_log_fold_and_claim_loop_live_in_one_place():
    """Tombstone/DV clears and the ``writer.features`` union fold only
    in the core ``_replay``; the version claim only in the core
    ``_commit_with_retries``; ``_LogView`` reads no commit itself; and
    nothing publishes with ``O_EXCL``."""
    for pattern, fn in (
        (r'set\(c\["mor_clears"\]\)', txlog_core._replay),
        (r'set\(c\["dv_clears"\]\)', txlog_core._replay),
        (r'== "writer\.features"', txlog_core._replay),
        (r"next_v\s*=", txlog_core._commit_with_retries),
        (r"range\(COMMIT_RETRIES\)", txlog_core._commit_with_retries),
    ):
        allowed = _lines_of(fn, pattern)
        assert allowed, f"{fn.__name__} no longer matches {pattern!r}"
        assert _package_hits(pattern) == allowed, pattern
    view_src = inspect.getsource(txs._LogView)
    assert not re.search(
        r"_load\(|read_text\(|checkpoint|\.get\(\"(remove|properties|"
        r"schema|mor|dv)\"",
        view_src,
    )
    assert not _package_hits(r"O_EXCL")


def test_stores_commit_only_through_the_log():
    """The rollup store and the ANN index are txlog tables: no bespoke
    commit protocol is left outside ``sources/txlog*`` — no compaction
    markers, writer sidecars, merge staging dirs or py4j stream drains
    — and the only other ``.rename(`` publishes the pipe cursor."""
    from distributed_mapreduce__spark.streaming import table_stream

    def outside(pattern):
        return {
            h for h in _package_hits(pattern)
            if not re.fullmatch(r"sources/txlog\w*\.py", h[0])
        }

    for pattern in (
        r"_compactions", r"_writers/", r"_merge_tmp", r"merge_keyed",
        r"IOUtils\.toByteArray",
    ):
        assert not outside(pattern), pattern
    cursor = _lines_of(table_stream.save_cursor, r"\.rename\(")
    assert cursor and outside(r"\.rename\(") == cursor


def test_mutation_conflict_rules_live_in_one_commit_body():
    """Every data-changing mutation — copy-on-write rewrites and
    deletion-vector DELETE/UPDATE alike — commits through
    ``txlog._commit_rewrite``: the still-live, pending multi-table and
    planned-row-tracking refusals are raised nowhere else, and there
    is no second DV commit body."""
    assert not hasattr(txlog, "_commit_dv")
    assert not _package_hits(r"\b_commit_dv\b")
    for pattern in (
        r"files rewritten concurrently",
        r"pending multi-table transaction ",
        r"row tracking on .* was toggled",
    ):
        allowed = _lines_of(txlog._commit_rewrite, pattern)
        assert allowed, f"_commit_rewrite no longer matches {pattern!r}"
        assert _package_hits(pattern) == allowed, pattern


def test_multitx_keeps_no_write_body():
    """``tx_multi``'s append and overwrite participants run
    ``tx_write``'s body and its merge participants ``_merge``:
    ``multitx`` stages, collects stats and claims versions nowhere
    itself."""
    from distributed_mapreduce__spark.sources import multitx

    src = inspect.getsource(multitx)
    for name in ("_stage_and_place", "_collect_stats", "_commit",
                 "_committed_txns"):
        assert not re.search(rf"\b{name}\(", src), name


def _sink(spark, t, ids):
    tx_write(spark.createDataFrame([], "id long, tag string"), t)
    w = txs.TxTableStreamWriter(
        {"path": t, "appid": "race"}, txs._LogView(t).schema_json()
    )
    batch = pa.Table.from_pydict(
        {"id": ids, "tag": ["s"] * len(ids)},
        schema=pa.schema([("id", pa.int64()), ("tag", pa.string())]),
    )
    return w, w.write(iter(batch.to_batches()))


def test_sink_rechecks_constraints_after_losing_version_race(
    spark, tmp_path, monkeypatch
):
    """A concurrent ADD CONSTRAINT takes the version the sink is
    publishing: the sink's retry re-checks its constraints, refuses,
    and drops its staged files instead of committing unchecked rows."""
    t = str(tmp_path / "t")
    w, m = _sink(spark, t, [-2, -1, 5])
    fired = []

    def take_version():
        if not fired:
            fired.append(True)
            tx_add_constraint(spark, t, "nonneg", "id >= 0")

    monkeypatch.setattr(txlog_core, "_prepublish_hook", take_version)
    with pytest.raises(RuntimeError, match="constraints.*changed"):
        w.commit([m], 0)
    assert fired
    assert _replay(spark, t).version == 1  # the constraint's commit only
    assert not os.path.exists(os.path.join(t, m.files[0]["rel"]))
    assert tx_read(spark, t).count() == 0


def test_replay_during_sink_publish_sees_previous_version(
    spark, tmp_path, monkeypatch
):
    """The sink publishes through the link(2) claimer: a reader that
    replays while the commit is being published sees the previous
    version whole, never a partial commit file."""
    t = str(tmp_path / "t")
    w, m = _sink(spark, t, [1, 2, 3])
    seen = []
    monkeypatch.setattr(
        txlog_core, "_prepublish_hook",
        lambda: seen.append(_replay(spark, t).version),
    )
    w.commit([m], 0)
    assert seen == [0]
    assert _replay(spark, t).version == 1
    assert tx_read(spark, t).count() == 3


class _CountingFS(txlog_core._LocalPlannerFS):
    """The local FS object, counting ``_txlog`` listings and commit /
    checkpoint reads."""

    def __init__(self):
        self.n = {"list": 0, "commit": 0, "checkpoint": 0}

    def listdir(self, p):
        if p.endswith("/_txlog"):
            self.n["list"] += 1
        return super().listdir(p)

    def read_text(self, p):
        if "/_txlog/" in p:
            kind = "checkpoint" if p.endswith(".checkpoint.json") else "commit"
            self.n[kind] += 1
        return super().read_text(p)

    def take(self):
        out = dict(self.n)
        self.n = dict.fromkeys(self.n, 0)
        return out


#: log I/O per op on the seeded history below: (listings, commit
#: reads, checkpoint reads). Counted through the core's local FS
#: object, so they hold on any box.
LOG_READ_PINS = {
    "append": (2, 2, 1),
    "pipe_tick": (4, 6, 2),
    "update": (2, 3, 1),
    "merge": (2, 5, 1),
    # one version later than "merge", so its replay reads one more
    # commit above the checkpoint; the txn check itself reads nothing
    # more while the log has not moved past the merge's snapshot
    "merge_txn": (2, 6, 1),
    # a one-participant tx_multi append, one version after "merge_txn":
    # what tx_write(txn=) reads at that version
    "multi_append": (2, 7, 1),
}


def test_log_reads_pinned(spark, tmp_path, monkeypatch):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    ckpt = str(tmp_path / "ckpt")

    def rows(lo, n, tag):
        return spark.range(lo, lo + n).select(
            "id", (F.col("id") % 7).alias("v"), F.lit(tag).alias("tag")
        )

    # seeded history: 12 versions, so one checkpoint (at 9) is folded
    tx_write(rows(0, 100, "base").repartition(2), src, stats_cols=["id"])
    for i in range(11):
        tx_write(rows(100 + 10 * i, 10, f"a{i}"), src, stats_cols=["id"])
    pipe_available_now(spark, src, dst, checkpoint=ckpt)

    fs = _CountingFS()
    monkeypatch.setattr(txlog_core, "_LOCAL_FS", fs)
    got = {}
    tx_write(rows(300, 10, "app"), src, stats_cols=["id"])
    got["append"] = fs.take()
    pipe_available_now(spark, src, dst, checkpoint=ckpt)
    got["pipe_tick"] = fs.take()
    tx_update(spark, src, "v = 3", {"tag": "'u'"})
    got["update"] = fs.take()
    txlog.tx_apply_deletes(spark, src)
    fs.take()
    tx_merge(rows(0, 5, "m"), src, "id")
    got["merge"] = fs.take()
    tx_merge(rows(0, 5, "n"), src, "id", txn="m2")
    got["merge_txn"] = fs.take()
    tx_multi(
        {src: rows(400, 10, "mt")}, str(tmp_path / "cat"), txn="mt1",
        stats_cols=["id"],
    )
    got["multi_append"] = fs.take()
    got = {
        k: (v["list"], v["commit"], v["checkpoint"]) for k, v in got.items()
    }
    assert got == LOG_READ_PINS


def test_merge_log_reads_do_not_grow_with_the_log(
    spark, tmp_path, monkeypatch
):
    """A merge reads the commits above its checkpoint and the ones
    after its plan snapshot — not the whole log: the same merge, as
    far above a checkpoint at version 9 as above one at version 19,
    costs the same log I/O."""
    fs = _CountingFS()
    monkeypatch.setattr(txlog_core, "_LOCAL_FS", fs)
    got = []
    for n in (12, 22):  # checkpoints at 9, and at 9 and 19
        t = str(tmp_path / f"t{n}")
        for i in range(n):
            tx_write(
                spark.range(10 * i, 10 * i + 10).select(
                    "id", F.lit("a").alias("tag")
                ),
                t, stats_cols=["id"],
            )
        fs.take()
        tx_merge(
            spark.range(5, 15).select("id", F.lit("m").alias("tag")),
            t, "id",
        )
        got.append(fs.take())
    assert got[0] == got[1]


def test_checkpoint_append_reads_do_not_grow_with_the_log(
    spark, tmp_path, monkeypatch
):
    """The append that writes a checkpoint folds the log from the
    previous checkpoint, not from genesis: the one writing the
    checkpoint at version 19 and the one writing it at version 29 read
    the same commit files."""
    fs = _CountingFS()
    monkeypatch.setattr(txlog_core, "_LOCAL_FS", fs)
    t = str(tmp_path / "t")
    got = []
    for i in range(30):
        if i in (19, 29):
            fs.take()
        tx_write(
            spark.range(10 * i, 10 * i + 10).select(
                "id", F.lit("a").alias("tag")
            ),
            t,
        )
        if i in (19, 29):
            got.append(fs.take())
    ckpts = sorted(
        int(name.split(".")[0])
        for name in os.listdir(os.path.join(t, "_txlog"))
        if name.endswith(".checkpoint.json")
    )
    assert ckpts == [9, 19, 29]
    assert got[0]["commit"] == got[1]["commit"], got
