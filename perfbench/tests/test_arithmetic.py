"""Unit tests for the benchmark's own arithmetic, on hand-built inputs.

Run with ``python3 -m pytest perfbench/tests -q``; no Spark session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import measure  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


# ---------------------------------------------------- interval union

def test_union_merges_overlaps_and_keeps_gaps():
    ivs = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (5.5, 5.7)]
    assert measure.union_length(ivs) == pytest.approx(4.0)


def test_union_clips_to_window():
    ivs = [(-1.0, 1.0), (2.0, 10.0)]
    assert measure.union_length(ivs, 0.0, 4.0) == pytest.approx(3.0)
    assert measure.union_length([(5.0, 6.0)], 0.0, 4.0) == 0.0
    assert measure.union_length([]) == 0.0


def test_driver_gap_is_wall_outside_any_job():
    # op span 10..20; jobs cover 11..13 and 12..15 (overlapping) and 18..25
    jobs = [(11.0, 13.0), (12.0, 15.0), (18.0, 25.0)]
    assert measure.driver_gap(10.0, 20.0, jobs) == pytest.approx(10 - 4 - 2)
    assert measure.driver_gap(10.0, 20.0, []) == pytest.approx(10.0)


# ------------------------------------------------------ span self time

def _span(sid, t0, t1, parent=None):
    return {"id": sid, "name": f"s{sid}", "parent": parent, "t0": t0, "t1": t1, "attrs": {}}


def test_self_time_subtracts_covered_children():
    tr = tracing.Tracer()
    tr.spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, parent=0),
        _span(2, 3.0, 6.0, parent=0),  # overlaps child 1
        _span(3, 8.0, 9.0, parent=0),
        _span(4, 1.5, 2.0, parent=1),  # grandchild: not the root's child
    ]
    assert tr.self_time(0) == pytest.approx(10 - 5 - 1)
    assert tr.self_time(1) == pytest.approx(3 - 0.5)
    assert tr.self_time(4) == pytest.approx(0.5)


def test_live_spans_nest_and_close():
    tr = tracing.Tracer()
    with tr.span("pass"):
        with tr.span("op", op="a"):
            with tr.span("plan"):
                pass
            with tr.span("exec"):
                time.sleep(0.01)
    names = [(s["name"], s["parent"]) for s in tr.spans]
    assert names == [("pass", None), ("op", 0), ("plan", 1), ("exec", 1)]
    assert all(s["t1"] >= s["t0"] for s in tr.spans)
    op = tr.spans[1]
    assert tr.self_time(1) + sum(c["t1"] - c["t0"] for c in tr.children(1)) == \
        pytest.approx(op["t1"] - op["t0"])


# ----------------------------------------------------------- percentiles

@pytest.mark.parametrize("n,expected", [
    (1, 50.0), (19, 50.0), (99, 50.0), (100, 90.0), (199, 90.0),
    (200, 95.0), (999, 95.0), (1000, 99.0), (10_000, 99.9),
])
def test_supported_percentile_needs_ten_samples_beyond(n, expected):
    assert measure.supported_percentile(n) == expected


def test_summarize_states_count_and_only_supported_tail():
    small = measure.summarize([3.0, 1.0, 2.0])
    assert small == {"n": 3, "median": 2.0}
    big = measure.summarize([float(i) for i in range(1, 101)])
    assert big["n"] == 100 and big["median"] == 50.5 and big["p90"] == 90.0


def test_percentile_is_nearest_rank():
    vals = [float(i) for i in range(1, 11)]
    assert measure.percentile(vals, 90.0) == 9.0
    assert measure.percentile(vals, 99.9) == 10.0
    with pytest.raises(ValueError):
        measure.percentile([], 50.0)


# ---------------------------------------------------- process-tree CPU

def test_parse_stat_counts_reaped_children_and_odd_comm():
    fields = ["S", "7"] + ["0"] * 9 + ["100", "50", "30", "20"] + ["0"] * 30
    text = "1234 (a (weird) name) " + " ".join(fields)
    pid, ppid, cpu = measure.parse_stat(text)
    assert (pid, ppid) == (1234, 7)
    assert cpu == pytest.approx(200 / os.sysconf("SC_CLK_TCK"))


def test_tree_pids_walks_descendants_only():
    parents = {1: 0, 10: 1, 11: 10, 12: 10, 13: 12, 20: 1, 30: 99}
    assert sorted(measure.tree_pids(10, parents)) == [10, 11, 12, 13]
    assert measure.tree_pids(30, parents) == [30]


def test_tree_cpu_includes_reaped_child():
    before = measure.tree_cpu()
    burn = "import time\nt=time.process_time()\nwhile time.process_time()-t<0.3: pass"
    subprocess.run([sys.executable, "-c", burn], check=True)  # waited for: reaped
    total, jit = measure.cpu_delta(before, measure.tree_cpu())
    assert total >= 0.25
    assert jit == 0.0  # no JVM in this tree


def test_cpu_delta_splits_out_jit_threads():
    before = (10.0, {(1, 11): 2.0, (1, 12): 5.0})
    # thread 11 ran 1.5 s, thread 12 exited idle, thread 13 started and ran 0.5 s
    after = (14.0, {(1, 11): 3.5, (1, 13): 0.5})
    assert measure.cpu_delta(before, after) == (pytest.approx(4.0), pytest.approx(2.0))


def test_steal_parse():
    tck = os.sysconf("SC_CLK_TCK")
    assert measure.parse_steal_s("cpu  10 0 5 100 3 0 1 250 0 0\ncpu0 1 2\n") == \
        pytest.approx(250 / tck)
    assert measure.parse_steal_s("") == 0.0


def test_hwm_parse_and_reset():
    assert measure.parse_hwm_kb("Name:\tx\nVmHWM:\t  2048 kB\nVmRSS:\t 1024 kB\n") == 2048
    assert measure.parse_hwm_kb("Name:\tkthread\n") == 0
    blob = bytearray(64 << 20)
    blob[::4096] = b"x" * len(blob[::4096])  # touch every page
    del blob
    peak = measure.tree_hwm_mb()
    measure.reset_tree_hwm()
    assert measure.tree_hwm_mb() < peak - 32


# ------------------------------------------------ call-site attribution

@pytest.mark.parametrize("site,expected", [
    ("localCheckpoint at /x/hdfs_parquet_importer_spark/operators/graph.py:301", "graph"),
    ("count at /c/hdfs_parquet_importer_spark/operators/quality_clf.py:12", "quality_clf"),
    ("collect at /c/hdfs_parquet_importer_spark/operators/util.py:5", None),
    ("collect at /c/hdfs_parquet_importer_spark/queries/graphs.py:377", None),
    ("$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768", None),
    ("", None),
])
def test_operator_of_call_site(site, expected):
    assert tracing.operator_of(site) == expected


def test_stamped_call_site_is_innermost_package_frame():
    # package code -> the wrapper around DataFrame.count -> the stamp
    ns = {"wrapped_count": lambda: tracing._package_call_site("count")}
    path = "/x/hdfs_parquet_importer_spark/operators/graph.py"
    exec(compile("def count_here():\n    return wrapped_count()\n", path, "exec"), ns)
    site = ns["count_here"]()
    assert site == f"count at {path}:2"
    assert tracing.operator_of(site) == "graph"
    assert tracing._package_call_site("count") is None  # no package frame on the stack


def test_size_metric_parse():
    v = "total (min, med, max (stageId: taskId))\n21.0 KiB (5.2 KiB, 5.2 KiB, 5.2 KiB (stage 140.0: task 72))"
    assert tracing.parse_size_metric(v) == pytest.approx(21.0 * 1024)
    assert tracing.parse_size_metric("3.5 MiB") == pytest.approx(3.5 * 2**20)
    assert tracing.parse_size_metric("n/a") == 0.0


def test_rest_timestamps_are_utc_epoch():
    assert tracing._epoch("1970-01-01T00:00:01.500GMT") == pytest.approx(1.5)


# ------------------------------------------------- declared metrics

def test_benchmark_json_declares_what_run_emits():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        decl = json.load(fh)
    assert [m["name"] for m in decl["end_to_end"]] == list(run.DECLARED)
    assert [m["name"] for m in decl["per_layer"]] == list(run.PER_LAYER)
    for m in decl["end_to_end"]:
        assert (m["unit"], m["better"]) == run.END_TO_END[m["name"]]
    for m in decl["per_layer"]:
        assert (m["unit"], m["better"]) == run.PER_LAYER[m["name"]]
    for w in decl["workloads"]:
        assert w["name"] in workloads.WORKLOADS
    bounds = {m["name"]: m["bound"] for m in decl["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())
