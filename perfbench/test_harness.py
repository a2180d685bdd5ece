"""Tests of the benchmark's own arithmetic: process-tree CPU and RSS
accounting, span self time, quartiles, event-log attribution, container
sniffing and the metric spec. Run: python3 -m pytest perfbench -q"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from eventlog import EventLog  # noqa: E402
from harness import ProcTree, Tracer, covered, quartiles  # noqa: E402

BURN = """
import time
while time.process_time() < {secs}:
    pass
print(time.process_time())
"""

# waits for a line, runs the burner as its own child, reports the burner's
# CPU, then waits for a second line before exiting
PARENT = """
import subprocess, sys
sys.stdin.readline()
out = subprocess.run([sys.executable, "-c", {burn!r}], stdout=subprocess.PIPE,
                     text=True, check=True).stdout
print(out.strip(), flush=True)
sys.stdin.readline()
"""


def test_tree_cpu_counts_a_reaped_child():
    proc = subprocess.Popen(
        [sys.executable, "-c", PARENT.format(burn=BURN.format(secs=0.6))],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    try:
        tree = ProcTree(proc.pid)
        before = tree.cpu_s()
        proc.stdin.write("go\n")
        proc.stdin.flush()
        burned = float(proc.stdout.readline())
        after = tree.cpu_s()  # the burner has exited; its time is cutime
        proc.stdin.write("done\n")
        proc.stdin.flush()
    finally:
        proc.communicate(timeout=30)
    assert burned >= 0.6
    # interpreter start-up of the burner and the parent's spawn cost are
    # also CPU of the tree, and ticks are 10 ms
    assert burned - 0.02 <= after - before <= burned + 0.25


def test_tree_rss_sums_a_child():
    child = subprocess.Popen(
        [sys.executable, "-c",
         "import sys; b = bytearray(200 * 2**20); sys.stdout.write('x\\n');"
         "sys.stdout.flush(); sys.stdin.readline()"],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    try:
        child.stdout.readline()
        assert ProcTree(child.pid).rss_bytes() >= 200 * 2**20
        assert child.pid in ProcTree().descendants()
    finally:
        child.communicate("\n", timeout=30)


def test_self_time_subtracts_the_union_of_children():
    t = Tracer()
    root = t.add("root", 0.0, 10.0)
    t.add("a", 1.0, 3.0, root)
    b = t.add("b", 2.0, 5.0, root)  # overlaps a: union [1, 5]
    t.add("c", 9.0, 12.0, root)  # only [9, 10] lies inside root
    t.add("a", 2.5, 4.0, b)  # a grandchild does not change root's self time
    assert t.self_time(root) == pytest.approx(10 - 4 - 1)
    assert t.self_time(b) == pytest.approx(3 - 1.5)
    by_name = t.self_times_by_name(root)
    assert by_name["a"] == pytest.approx(2 + 1.5)
    assert by_name["c"] == pytest.approx(3)


def test_covered_clips_to_the_window():
    assert covered(0, 10, []) == 0
    assert covered(0, 10, [(-5, 2), (1, 4), (8, 20)]) == pytest.approx(6)


def test_quartiles_match_statistics():
    vals = [7.0, 1.0, 3.0, 9.0, 5.0, 2.0, 8.0, 4.0, 6.0, 10.0]
    q1, med, q3 = quartiles(vals)
    assert (q1, med, q3) == tuple(statistics.quantiles(vals, n=4))
    assert med == 5.5 and q1 == 2.75 and q3 == 8.25
    assert quartiles([4.0]) == (4.0, 4.0, 4.0)
    with pytest.raises(ValueError):
        quartiles([])


def _plan(name, metrics, children=()):
    return {"nodeName": name, "children": list(children),
            "metrics": [{"name": m, "accumulatorId": a, "metricType": "timing"}
                        for m, a in metrics]}


def test_eventlog_sums_task_updates_of_the_selected_jobs(tmp_path):
    sql = "org.apache.spark.sql.execution.ui."
    plan = _plan("MapInPandas", [("time to run Python workers", 2)], [
        _plan("MapInPandas", [("time to run Python workers", 1)], [
            _plan("Scan parquet x", [("scan time", 3)])])])
    task = lambda stage, run, accums: {  # noqa: E731
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Metrics": {"Executor Run Time": run},
        "Task Info": {"Accumulables": [{"ID": a, "Update": str(v)}
                                       for a, v in accums.items()]}}
    events = [
        {"Event": sql + "SparkListenerSQLExecutionStart", "executionId": 0,
         "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 0,
         "Stage IDs": [0], "Properties": {"perfbench.phase": "timed:0",
                                          "spark.sql.execution.id": "0"}},
        task(0, 100, {1: 80, 2: 95, 3: 5}),
        task(0, 300, {1: 250, 2: 290, 3: 7}),
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 0,
         "Stage IDs": [1], "Properties": {"perfbench.phase": "check"}},
        task(1, 999, {1: 999}),
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events))
    ev = EventLog(str(path))
    assert ev.phase_jobs("timed:") == [0]
    pm = ev.metrics([0])
    assert pm.task_sum("run_ms") == 400
    assert pm.plan("scan time") == 12
    assert pm.plan("time to run Python workers") == 80 + 250 + 95 + 290
    import workloads as W

    assert pm.plan("time to run Python workers", W._innermost_kernel) == 330
    assert pm.kernel_stage_skew() == pytest.approx(300 / 200)


def test_sniff_names_every_container():
    import workloads as W

    enc = W.load_encoders(os.path.join(ROOT, "tests"))
    for i in range(len(W.FORMATS)):
        assert W.sniff(W.encode_media(i, enc)) == W.FORMATS[i]


def test_missing_encoder_is_an_error(tmp_path):
    import workloads as W

    with pytest.raises(RuntimeError, match="needs encoder"):
        W.load_encoders(str(tmp_path / "no_tests_here"))


def test_benchmark_json_matches_the_spec():
    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_path):
        pytest.skip("no BENCHMARK.json next to this directory")
    with open(bench_path) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "metrics.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == [
        k for k, v in spec["workloads"].items() if v["gated"]]
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == {
        k: v["unit"] for k, v in spec["end_to_end"].items()}
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == {
        k: v["unit"] for k, v in spec["per_layer"].items() if v["gated"]}
