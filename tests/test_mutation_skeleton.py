"""The row-level mutation family (sources/txlog.py: tx_update,
tx_delete_where, tx_delete, tx_delete_positions, and MERGE through its
one body) shares one prelude, one deletion-vector tail and one
copy-on-write tail. These tests pin what the shared pieces promise: a
WHERE condition is deterministic (the single-evaluation checkpoints
rely on it), change rows carry stable row ids on tracked tables, the
checkpoints are released when the op returns, the Spark job count of
each verb and merge flavor, merge's key refusals, the upsert's
replace-by-key rows, and that the DV sidecar read, the stats prune and
the merge body each stay in one place."""

from __future__ import annotations

import inspect
import os
import re

import pytest
from pyspark.sql import functions as F

import distributed_mapreduce__spark as pkg
from distributed_mapreduce__spark.sources import txlog
from distributed_mapreduce__spark.sources.multitx import tx_multi
from distributed_mapreduce__spark.sources.tx_sql import (
    tx_register_table,
    tx_sql,
)
from distributed_mapreduce__spark.sources.txlog import (
    _replay,
    tx_changes_cdf,
    tx_delete,
    tx_delete_positions,
    tx_delete_where,
    tx_enable_row_tracking,
    tx_read,
    tx_scan_with_pos,
    tx_scan_with_row_ids,
    tx_update,
    tx_write,
)

MODES = ["merge_on_read", "copy_on_write"]


def _df(spark, n=1000):
    return spark.range(n).select(
        "id",
        (F.col("id") % 10).alias("v"),
        F.lit("x").alias("tag"),
        F.lit(0.0).alias("x"),
    )


@pytest.fixture()
def table(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_write(_df(spark).repartition(4), t, stats_cols=["id"])
    return t


def _delete_where(spark, t, cond, mode):
    return tx_delete_where(spark, t, cond, mode=mode)


def _update(spark, t, cond, mode):
    return tx_update(spark, t, cond, {"tag": "'u'"}, mode=mode)


@pytest.mark.parametrize("mode", MODES)
@pytest.mark.parametrize("verb", [_delete_where, _update])
@pytest.mark.parametrize("cond", ["rand() < 0.5", "uuid() < '8'"])
def test_nondeterministic_condition_refused(spark, table, verb, mode, cond):
    v0 = _replay(spark, table).version
    with pytest.raises(ValueError, match="not deterministic"):
        verb(spark, table, cond, mode)
    assert _replay(spark, table).version == v0
    assert tx_read(spark, table).count() == 1000


def test_nondeterministic_sql_delete_refused(spark, table):
    tx_register_table(spark, "t_nondet", table)
    v0 = _replay(spark, table).version
    with pytest.raises(ValueError, match="not deterministic"):
        tx_sql(spark, "DELETE FROM t_nondet WHERE rand() < 0.5")
    assert _replay(spark, table).version == v0


@pytest.mark.parametrize("mode", MODES)
def test_current_timestamp_condition_accepted(spark, table, mode):
    """current_timestamp() is one value per query, which Spark treats
    as deterministic — it must stay usable in a WHERE."""
    tx_delete_where(
        spark, table, "v = 3 AND current_timestamp() IS NOT NULL", mode=mode
    )
    assert tx_read(spark, table).count() == 900


@pytest.mark.parametrize("mode", MODES)
def test_random_set_post_images_match_table(spark, table, mode):
    """SET x = rand(): the assignment is evaluated once, so the CDF
    post-images are exactly the rows the table now holds."""
    v = tx_update(spark, table, "v = 3", {"x": "rand()"}, mode=mode)
    frames = {
        ver: df for ver, _, df in tx_changes_cdf(
            spark, table, since_version=v - 1
        )
    }
    post = frames[v].filter("_change_type = 'update_postimage'")
    got = sorted((r.id, r.x) for r in post.select("id", "x").collect())
    want = sorted(
        (r.id, r.x)
        for r in tx_read(spark, table).filter("v = 3").select("id", "x")
        .collect()
    )
    assert len(want) == 100 and got == want
    assert len({x for _, x in want}) > 1


def _tracked(spark, tmp_path):
    t = str(tmp_path / "tracked")
    tx_write(_df(spark, 200).repartition(4), t, stats_cols=["id"])
    tx_enable_row_tracking(spark, t)
    return t


@pytest.mark.parametrize("verb", [_delete_where, _update])
def test_copy_on_write_cdf_carries_row_ids(spark, tmp_path, verb):
    t = _tracked(spark, tmp_path)
    ids = {
        r.id: r._row_id for r in tx_scan_with_row_ids(spark, t).collect()
    }
    v = verb(spark, t, "v = 3", "copy_on_write")
    frames = {
        ver: df for ver, _, df in tx_changes_cdf(
            spark, t, since_version=v - 1, with_row_ids=True
        )
    }
    pre = frames[v]
    if "_change_type" in pre.columns:
        pre = pre.filter("_change_type = 'update_preimage'")
    rows = pre.select("id", "_row_id").collect()
    assert len(rows) == 20
    assert {r.id: r._row_id for r in rows} == {
        i: ids[i] for i in ids if i % 10 == 3
    }


def test_checkpoints_released_after_each_op(spark, table):
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    for i in range(5):
        tx_update(spark, table, f"v = {i}", {"tag": "'u'"})
    # copy_on_write needs a DV-free table: settle, then delete
    txlog.tx_apply_deletes(spark, table)
    for i in range(5, 10):
        tx_delete_where(spark, table, f"v = {i}", mode="copy_on_write")
    # <=: the context cleaner may release RDDs earlier tests left behind
    assert jsc.getPersistentRDDs().size() <= before


def _jobs(spark, fn):
    """Spark jobs ``fn`` starts: the rise of the newest job id (ids are
    monotone, while the status store evicts old jobs past
    ``spark.ui.retainedJobs``, so a count of the ids it holds can fall
    in a long session)."""
    tracker = spark.sparkContext._jsc.sc().statusTracker()

    def newest():
        return max(tracker.getJobIdsForGroup(None), default=-1)

    before = newest()
    fn()
    return newest() - before


def _pos_delete(spark, t):
    return tx_delete_positions(
        tx_scan_with_pos(spark, t).filter("v = 3"), t
    )


#: (op, Spark jobs) on a 4-file, 1,000-row table with CDF on. Each
#: count was taken while every verb still carried its own copy of the
#: prelude and tails; sharing them must not change it.
JOB_PINS = {
    "update/merge_on_read": (
        lambda s, t: tx_update(s, t, "v = 3", {"tag": "'u'"}), 10),
    "update/copy_on_write": (
        lambda s, t: tx_update(
            s, t, "v = 3", {"tag": "'u'"}, mode="copy_on_write"), 10),
    "delete_where/merge_on_read": (
        lambda s, t: tx_delete_where(s, t, "v = 3"), 6),
    "delete_where/copy_on_write": (
        lambda s, t: tx_delete_where(s, t, "v = 3", mode="copy_on_write"),
        10),
    "delete/copy_on_write": (
        lambda s, t: tx_delete(
            s.range(100, 200).select("id"), t, "id"), 10),
    "delete_positions": (_pos_delete, 11),
}


@pytest.mark.parametrize("case", sorted(JOB_PINS))
def test_mutation_job_counts_pinned(spark, table, case):
    fn, want = JOB_PINS[case]
    got = _jobs(spark, lambda: fn(spark, table))
    assert got == want, f"{case}: {got} jobs (pinned {want})"


def _src(spark):
    """20 source rows over the 4-file table: ids 990..999 match,
    1000..1009 are new."""
    return _df(spark, 1010).filter("id >= 990").withColumn(
        "tag", F.lit("s")
    )


def _merge(**clauses):
    return lambda s, t: txlog.tx_merge(_src(s), t, "id", **clauses)


def _multi_merge(spark, t):
    return tx_multi(
        {t: _src(spark), t + "_log": _src(spark)}, t + "_coord",
        modes={t: "merge"}, merge_keys={t: "id"},
    )


#: merge flavor -> (op, row-tracked table, Spark jobs). Same 4-file,
#: 1,000-row table as JOB_PINS; CDF on unless noted. Counted at 4 and 8
#: cores; at 2, AQE plans update_insert one job lower.
MERGE_JOB_PINS = {
    "upsert": (_merge(), False, 11),
    "upsert/nocdf": (_merge(cdf=False), False, 8),
    "upsert/tracked": (_merge(), True, 12),
    "upsert/tracked/nocdf": (_merge(cdf=False), True, 8),
    "update_insert": (_merge(
        when_matched=[{"condition": "s.v > 3", "set": {"tag": "s.tag"}}],
        when_not_matched=[{}],
    ), False, 13),
    "by_source_delete": (_merge(
        when_matched=[{"action": "update"}],
        when_not_matched_by_source=[
            {"action": "delete", "condition": "t.v = 3"}
        ],
    ), False, 12),
    "insert_only": (_merge(when_not_matched=[{}]), False, 7),
    "multi": (_multi_merge, False, 12),
}


@pytest.mark.parametrize("case", sorted(MERGE_JOB_PINS))
def test_merge_job_counts_pinned(spark, table, case):
    fn, tracked, want = MERGE_JOB_PINS[case]
    if tracked:
        tx_enable_row_tracking(spark, table)
    got = _jobs(spark, lambda: fn(spark, table))
    ok = {want - 1, want} if case == "update_insert" else {want}
    assert got in ok, f"{case}: {got} jobs (pinned {want})"


def test_clause_merge_duplicate_and_null_keys_raise_multiple_match(
    spark, table
):
    """Two source rows on one target key raise Delta's multiple-match
    error even when a NULL key sits beside them (NULL keys never
    match, so they do not hide the duplicate)."""
    src = _src(spark).filter("id = 995").unionByName(
        _src(spark).filter("id = 995")
    ).unionByName(
        _src(spark).filter("id = 1000").withColumn(
            "id", F.lit(None).cast("long")
        )
    )
    v0 = _replay(spark, table).version
    with pytest.raises(ValueError, match="multiple source rows"):
        txlog.tx_merge(
            src, table, "id", when_matched=[{"action": "update"}],
            when_not_matched=[{}],
        )
    assert _replay(spark, table).version == v0


def test_upsert_refuses_null_and_duplicate_keys(spark, table):
    v0 = _replay(spark, table).version
    with pytest.raises(ValueError, match=r"updates carry NULL \['id'\]"):
        txlog.tx_merge(
            _src(spark).withColumn(
                "id", F.when(F.col("id") != 995, F.col("id"))
            ),
            table, "id",
        )
    with pytest.raises(
        ValueError, match=r"updates carry duplicate \['id'\] rows"
    ):
        txlog.tx_merge(_src(spark).unionByName(_src(spark)), table, "id")
    assert _replay(spark, table).version == v0


def _feed(spark, t, v):
    """The one change frame of version ``v``, by stable row id."""
    (frame,) = [
        df for ver, _, df in tx_changes_cdf(
            spark, t, since_version=v - 1, with_row_ids=True
        ) if ver == v
    ]
    return frame


def test_tracked_merge_reading_no_file_feeds_insert_row_ids(
    spark, tmp_path
):
    """On a tracked table with CDF on, a merge that reads no target
    file (insert-only clauses; an upsert whose keys miss every file)
    still feeds each insert with the id its commit minted."""
    t = _tracked(spark, tmp_path)
    for lo, clauses in ((1000, {"when_not_matched": [{}]}), (2000, {})):
        src = _df(spark, lo + 10).filter(f"id >= {lo}")
        v = txlog.tx_merge(src, t, "id", **clauses)
        ids = {
            r.id: r._row_id
            for r in tx_scan_with_row_ids(spark, t).collect()
        }
        rows = _feed(spark, t, v).collect()
        assert {r._change_type for r in rows} == {"insert"}
        assert {r.id: r._row_id for r in rows} == {
            i: ids[i] for i in range(lo, lo + 10)
        }
        assert None not in {r._row_id for r in rows}


def test_dv_update_feeds_pre_and_post_row_ids(spark, tmp_path):
    """A deletion-vector UPDATE on a tracked table feeds each pre-image
    with the row's old id and each post-image with its new one."""
    t = _tracked(spark, tmp_path)

    def ids():
        return {
            r.id: r._row_id
            for r in tx_scan_with_row_ids(spark, t).collect()
        }

    before = ids()
    v = tx_update(spark, t, "v = 3", {"tag": "'u'"})
    after = ids()
    got = {
        (r._change_type, r.id): r._row_id
        for r in _feed(spark, t, v).collect()
    }
    hit = [i for i in before if i % 10 == 3]
    assert got == {
        **{("update_preimage", i): before[i] for i in hit},
        **{("update_postimage", i): after[i] for i in hit},
    }


def test_upsert_replaces_every_target_row_on_a_key(spark, tmp_path):
    """The upsert replaces by key: a key the table holds on two rows
    ends as the one source row, with both rows as pre-images and one
    post-image. The clause form updates each matched row instead."""
    src = _df(spark, 21).filter("id in (3, 20)").withColumn(
        "tag", F.lit("s")
    )
    got = {}
    for form, clauses in (
        ("upsert", {}),
        ("clauses", {"when_matched": [{"action": "update"}],
                     "when_not_matched": [{}]}),
    ):
        t = str(tmp_path / form)
        tx_write(_df(spark, 10), t, stats_cols=["id"])
        tx_write(_df(spark, 10).filter("id = 3").withColumn(
            "tag", F.lit("dup")), t)
        v = txlog.tx_merge(src, t, "id", **clauses)
        got[form] = (
            sorted((r.id, r.tag) for r in tx_read(spark, t).collect()
                   if r.id in (3, 20)),
            sorted(
                (r._change_type, r.id, r.tag) for r in next(
                    tx_changes_cdf(spark, t, since_version=v - 1)
                )[2].collect()
            ),
        )
    assert got["upsert"] == (
        [(3, "s"), (20, "s")],
        [("insert", 20, "s"), ("update_postimage", 3, "s"),
         ("update_preimage", 3, "dup"), ("update_preimage", 3, "x")],
    )
    assert got["clauses"] == (
        [(3, "s"), (3, "s"), (20, "s")],
        [("insert", 20, "s"), ("update_postimage", 3, "s"),
         ("update_postimage", 3, "s"), ("update_preimage", 3, "dup"),
         ("update_preimage", 3, "x")],
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
    lines, start = inspect.getsourcelines(fn)
    rel = os.path.join("sources", "txlog.py")
    return {
        (rel, start + k) for k, line in enumerate(lines)
        if re.search(pattern, line)
    }


def test_dv_sidecar_read_and_prune_live_in_one_place():
    """A new copy of either cannot come back unnoticed: the live DV
    sidecar read lives only in ``_drop_dv_positions``, and stats
    pruning is called only from ``_prune_files``."""
    dv_read = r'for d in snap\.dv for sf in d\["files"\]'
    allowed = _lines_of(txlog._drop_dv_positions, dv_read)
    assert allowed, "_drop_dv_positions no longer reads the DV sidecars"
    assert _package_hits(dv_read) == allowed
    prune_call = r"(?<!def )_prunable\("
    allowed = _lines_of(txlog._prune_files, prune_call)
    assert allowed, "_prune_files no longer calls _prunable"
    assert _package_hits(prune_call) == allowed


def test_merge_has_one_body():
    """``tx_merge``, ``tx_multi`` and SQL ``MERGE`` reach the one merge
    body: its per-key pruning loop is the only one (the other overlap
    prune is the single-key DELETE), every eager checkpoint in
    txlog.py is ``_checkpointed``'s, and the second body's helpers
    are gone."""
    overlap = r"(?<!def )_files_overlapping_keys\("
    in_merge = _lines_of(txlog._merge, overlap)
    assert len(in_merge) == 1
    assert _package_hits(overlap) == (
        in_merge | _lines_of(txlog.tx_delete, overlap)
    )
    rel = os.path.join("sources", "txlog.py")
    ck = r"localCheckpoint\("
    assert {h for h in _package_hits(ck) if h[0] == rel} == _lines_of(
        txlog._checkpointed, ck
    )
    for gone in ("_id_scan_touched", "_prepare_merge", "_multi_key_bounds"):
        assert not _package_hits(gone), gone


def _files_under(t, sub):
    d = os.path.join(t, sub)
    return {
        os.path.relpath(os.path.join(r, n), d)
        for r, _, ns in os.walk(d) for n in ns
    }


def test_cow_key_delete_refuses_live_tombstone_up_front(spark, table):
    """A copy-on-write key delete over a live equality tombstone is
    refused by the prelude, before anything is staged."""
    tx_delete(spark.range(0, 3).select("id"), table, "id",
              mode="merge_on_read")
    v0 = _replay(spark, table).version
    data0, cdf0 = _files_under(table, "data"), _files_under(table, "_cdf")
    with pytest.raises(ValueError, match="equality tombstones"):
        tx_delete(spark.range(10, 20).select("id"), table, "id",
                  mode="copy_on_write")
    assert _replay(spark, table).version == v0
    assert _files_under(table, "data") == data0
    assert _files_under(table, "_cdf") == cdf0


def test_no_match_dv_delete_stages_no_sidecar(spark, table):
    """A DV delete that matches nothing leaves no ``_dv/`` file (nor
    its ``.crc``) that no commit names: by WHERE, nothing is staged;
    by position, the staged sidecar is removed again."""
    tx_delete_where(spark, table, "v = 99")
    assert _files_under(table, "_dv") == set()
    tx_delete_positions(tx_scan_with_pos(spark, table).filter("v = 99"), table)
    assert _files_under(table, "_dv") == set()
    assert tx_read(spark, table).count() == 1000


def test_merge_releases_its_checkpoints(spark, table):
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    for i in range(2):
        txlog.tx_merge(
            _df(spark, 5).withColumn("tag", F.lit(f"m{i}")), table, "id"
        )
    txlog.tx_merge(
        _df(spark, 5).withColumn("tag", F.lit("c")), table, "id",
        when_matched=[{"action": "update"}],
    )
    # <=: the context cleaner may release RDDs earlier tests left behind
    assert jsc.getPersistentRDDs().size() <= before
