"""Unit tests of the benchmark's pure helpers (no Spark, no JVM).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402
import layers  # noqa: E402
import procfs  # noqa: E402


# --- the "at least ten samples beyond" percentile rule ----------------------


@pytest.mark.parametrize("n, want", [
    (9, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0),
    (99, 75.0), (100, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9),
])
def test_tail_percentile_needs_ten_samples_beyond(n, want):
    assert procfs.tail_percentile(n) == want


def test_tail_percentile_leaves_ten_samples_above_the_value():
    xs = list(range(1, 41))
    p = procfs.tail_percentile(len(xs))
    value = procfs.percentile(xs, p)
    assert sum(x > value for x in xs) >= 10
    assert procfs.percentile(xs, 50.0) == 20


def _samples(**ops):
    """``name=[(pass, cpu_s, wall_s), ...]`` as a worker records them."""
    return {name.replace("_", "."): [{"pass": p, "cpu_s": c, "wall_s": w}
                                     for p, c, w in xs] for name, xs in ops.items()}


def test_commit_tail_reports_its_percentile_and_count():
    s = _samples(tx_append=[(0, 0, 1.0)] * 20, tx_merge=[(0, 0, 2.0)] * 20,
                 tx_read=[(0, 0, 9.0)] * 50)
    tail = layers.commit_tail(s)
    assert tail == {"percentile": 75.0, "samples": 40, "value": 2.0}


# --- the pass cost: each op's least cost over the passes, summed --------------


def test_pass_cost_sums_each_ops_minimum_over_the_passes():
    s = _samples(a=[(0, 5.0, 2.0), (1, 2.0, 1.5), (2, 3.0, 0.5)],
                 b=[(0, 1.0, 0.3), (1, 4.0, 0.2)])
    assert layers.pass_cost(s, 3) == pytest.approx(2.0 + 1.0)
    assert layers.pass_cost(s, 3, key="wall_s") == pytest.approx(0.5 + 0.2)


def test_pass_cost_leaves_out_ops_run_after_the_last_pass():
    # compaction runs once, after the passes, with pass number == passes
    s = _samples(a=[(0, 5.0, 0), (1, 4.0, 0)], compact=[(2, 0.5, 0)])
    assert layers.pass_cost(s, 2) == pytest.approx(4.0)
    assert layers.pass_cost(s, 1) == pytest.approx(5.0)


def test_host_slowness_averages_the_probe_over_a_widened_window():
    ref = layers.REF_UNIT_CPU_S
    # one probe unit every 0.5 s; the host runs at half speed from 10 s on
    probe = [[t / 2, ref * (2 if t >= 20 else 1) / 2, ref * (2 if t >= 20 else 1) / 2]
             for t in range(60)]
    assert layers.host_slowness(probe, 2.0, 8.0) == pytest.approx(1.0)
    assert layers.host_slowness(probe, 12.0, 20.0) == pytest.approx(2.0)
    # a 0.1 s op at 10 s is scaled by the 2 s around it: the units at
    # 9.0 and 9.5 ran fast, those at 10.0, 10.5 and 11.0 slowly
    assert layers.host_slowness(probe, 9.95, 10.05) == pytest.approx(8 / 5)
    # past the probe's end: the nearest unit
    assert layers.host_slowness(probe, 100.0, 100.1) == pytest.approx(2.0)
    with pytest.raises(ValueError):
        layers.host_slowness([], 0.0, 1.0)


def test_pass_cost_divides_each_sample_by_the_host_slowness():
    ref = layers.REF_UNIT_CPU_S
    probe = [[t, ref * (1 if t < 10 else 3), 0.0] for t in range(20)]
    s = {"a": [{"pass": 0, "cpu_s": 6.0, "wall_s": 0, "t0": 12.0, "t1": 16.0},
               {"pass": 1, "cpu_s": 4.0, "wall_s": 0, "t0": 2.0, "t1": 6.0}]}
    assert layers.pass_cost(s, 2, probe) == pytest.approx(2.0)
    assert layers.pass_cost(s, 2) == pytest.approx(4.0)


def test_end_to_end_takes_out_stolen_time_and_host_slowness():
    ref = layers.REF_UNIT_CPU_S
    rec = {"setup_s": 10.0, "setup_steal_s": 4.0, "setup_window": [0.0, 10.0],
           "passes": 2, "probe": [[t, 2 * ref, 0.0] for t in range(20)],
           "samples": {"a": [{"pass": p, "cpu_s": c, "wall_s": 0, "t0": 12.0, "t1": 14.0}
                             for p, c in ((0, 9.0), (1, 4.0))]}}
    # 10 s less 4 s of steal over 4 vCPUs, on a host twice as slow
    assert layers.end_to_end(rec, 4) == {"setup_s": pytest.approx(4.5),
                                         "cpu_s": pytest.approx(2.0)}


# --- /proc process-tree CPU and RSS -----------------------------------------


def _stat(pid, comm, ppid, utime, stime, cutime=0, cstime=0, session=1):
    # pid (comm) state ppid pgrp session tty tpgid flags minflt cminflt
    # majflt cmajflt utime stime cutime cstime ...
    return (f"{pid} ({comm}) S {ppid} 1 {session} 0 -1 0 0 0 0 0 "
            f"{utime} {stime} {cutime} {cstime} 20 0 1 0 0 0 0\n")


@pytest.fixture
def fake_proc(tmp_path):
    tree = {
        # pid: (comm, ppid, utime, stime, cutime, cstime, rss pages)
        10: ("python3", 1, 100, 50, 0, 0, 1000),
        11: ("java", 10, 400, 100, 0, 0, 5000),
        12: ("python3", 11, 30, 10, 20, 0, 300),   # pyspark daemon, reaped workers
        13: ("python3", 12, 5, 5, 0, 0, 200),      # live UDF worker
        20: ("bash", 1, 999, 999, 0, 0, 999),      # not in the tree
        21: ("odd) name (x", 20, 7, 7, 0, 0, 7),   # parentheses in comm
    }
    for pid, (comm, ppid, u, s, cu, cs, rss) in tree.items():
        d = tmp_path / str(pid)
        d.mkdir()
        (d / "stat").write_text(_stat(pid, comm, ppid, u, s, cu, cs))
        (d / "statm").write_text(f"{rss * 3} {rss} 0 0 0 0 0\n")
    (tmp_path / "self").mkdir()  # non-numeric entries are skipped
    (tmp_path / "stat").write_text(
        "cpu  1000 10 200 5000 30 5 15 40 0 0\ncpu0 1 2 3 4 5 6 7 8 0 0\n")
    return str(tmp_path)


def test_parse_stat_survives_parentheses_in_the_name():
    st = procfs.parse_stat(_stat(21, "odd) name (x", 20, 7, 7, 1, 2, session=5))
    assert st == {"pid": 21, "comm": "odd) name (x", "state": "S", "ppid": 20,
                  "session": 5, "cpu_ticks": 17}


def test_tree_cpu_sums_the_tree_and_its_python_workers(fake_proc):
    hz = procfs.HZ
    cpu = procfs.tree_cpu(10, proc=fake_proc)
    assert cpu["total"] == pytest.approx((150 + 500 + 60 + 10) / hz)
    assert cpu["pyworker"] == pytest.approx((60 + 10) / hz)
    assert procfs.tree_cpu(12, proc=fake_proc)["total"] == pytest.approx(70 / hz)


def test_tree_rss_sums_resident_pages(fake_proc):
    assert procfs.tree_rss_mb(10, proc=fake_proc) == pytest.approx(
        (1000 + 5000 + 300 + 200) * procfs.PAGE / 1e6)
    assert procfs.tree_rss_mb(999, proc=fake_proc) == 0


# --- steal delta --------------------------------------------------------------


def test_host_cpu_reads_busy_and_steal(fake_proc):
    h = procfs.host_cpu(proc=fake_proc)
    assert h["busy"] == pytest.approx((1000 + 10 + 200 + 5 + 15) / procfs.HZ)
    assert h["steal"] == pytest.approx(40 / procfs.HZ)


def test_host_delta_separates_steal_and_outside_cpu():
    before = {"busy": 100.0, "steal": 5.0}
    after = {"busy": 160.0, "steal": 12.5}
    assert procfs.host_delta(before, after, own_cpu_s=45.0) == {
        "steal_s": 7.5, "outside_cpu_s": 15.0}
    # the tree's own CPU can exceed what the host counters saw by a tick
    assert procfs.host_delta(before, after, own_cpu_s=61.0)["outside_cpu_s"] == 0.0


# --- the Counter oracle -----------------------------------------------------------


def test_counter_oracle_applies_the_textnorm_rules():
    texts = ['The cat, the "CAT"! dog.', "don't  stop ... ...", "cat's dog"]
    assert inputs.counter_top_k(texts, 4) == [
        ("cat", 2), ("dog", 2), ("the", 2), ("cat's", 1)]
    # internal punctuation survives, pure punctuation tokens drop out
    assert inputs.norm_word("...") == ""
    assert inputs.norm_word("'don't'") == "don't"


def test_counter_oracle_breaks_ties_by_word():
    assert inputs.counter_top_k(["b a c b a c"], 2) == [("a", 2), ("b", 2)]


def test_generated_inputs_repeat_for_a_seed(tmp_path):
    a = inputs.generate("txn_churn", 7, str(tmp_path / "a"), 2)
    b = inputs.generate("txn_churn", 7, str(tmp_path / "b"), 2)
    assert a["reads"] == b["reads"] and len(a["reads"]) == 2
    for f in os.listdir(tmp_path / "a"):
        assert (tmp_path / "a" / f).read_bytes() == (tmp_path / "b" / f).read_bytes()


def test_close_compares_floats_relatively():
    assert checks.close([("a", 1, 0.1 + 0.2)], [("a", 1, 0.3)])
    assert not checks.close([("a", 1, 0.31)], [("a", 1, 0.3)])
    assert not checks.close([("a", 1)], [("a", 1), ("b", 2)])


# --- BENCHMARK.json and the metrics a run prints ------------------------------------


def test_benchmark_json_lists_exactly_the_metrics_a_run_prints():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == layers.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} == set(inputs.GENERATORS)
