"""Tests of the benchmark's own helpers (no Spark session needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(BENCH), BENCH]

from checks import link_precision_recall  # noqa: E402
from tracing import Span, attribute, read_event_log, tree_cpu_s  # noqa: E402

BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < {s}: pass\n"


def test_tree_cpu_counts_reaped_grandchildren():
    # child spawns a grandchild that burns 0.5 CPU-s; both exit and are
    # reaped before the second sample, so the time must arrive through
    # the reaped-children fields
    code = (
        "import subprocess, sys\n"
        f"subprocess.run([sys.executable, '-c', {BURN.format(s=0.5)!r}], check=True)\n"
    )
    before = tree_cpu_s()
    subprocess.run([sys.executable, "-c", code], check=True)
    after = tree_cpu_s()
    assert 0.45 <= after - before < 5.0


def test_tree_cpu_counts_live_descendants():
    code = BURN.format(s=0.4) + "time.sleep(60)\n"
    before = tree_cpu_s()
    proc = subprocess.Popen([sys.executable, "-c", code])
    try:
        deadline = time.time() + 30
        while tree_cpu_s() - before < 0.4 and time.time() < deadline:
            time.sleep(0.05)
        assert proc.poll() is None  # still alive: counted from its own fields
        assert tree_cpu_s() - before >= 0.4
    finally:
        proc.kill()
        proc.wait(timeout=10)


def test_tree_cpu_ignores_processes_outside_the_tree(tmp_path):
    # the child starts a burner and exits at once; the orphan is
    # re-parented away from this process, so its CPU is not ours
    done = tmp_path / "done"
    burner = BURN.format(s=0.4) + f"open({str(done)!r}, 'w').close()\n"
    code = f"import subprocess, sys\nsubprocess.Popen([sys.executable, '-c', {burner!r}])\n"
    before = tree_cpu_s()
    subprocess.run([sys.executable, "-c", code], check=True)
    deadline = time.time() + 30
    while not done.exists() and time.time() < deadline:
        time.sleep(0.05)
    assert done.exists()
    assert tree_cpu_s() - before < 0.3
    assert tree_cpu_s(-1) == 0.0  # no such process


def _task(launch, finish, cpu_ns=0, shuffle=0, spill=0, peak=0):
    return json.dumps({
        "Event": "SparkListenerTaskEnd",
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {
            "Executor CPU Time": cpu_ns,
            "Disk Bytes Spilled": spill,
            "Peak Execution Memory": peak,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    })


def test_event_log_tasks_attributed_by_launch_time(tmp_path):
    lines = [
        json.dumps({"Event": "SparkListenerApplicationStart", "Timestamp": 500}),
        json.dumps({"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1_000}),
        _task(1_100, 1_400, cpu_ns=2_000_000_000, shuffle=2**20, peak=3 * 2**20),
        # launched in span a, finishes in span b: belongs to a
        _task(1_900, 2_600, cpu_ns=1_000_000_000, spill=2**21),
        json.dumps({"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2_100}),
        _task(2_200, 2_300, peak=2**20),
        # outside every span (warm-up / checks): dropped
        _task(5_000, 5_100, cpu_ns=9_000_000_000),
    ]
    log = tmp_path / "app-1"
    log.write_text("\n".join(lines) + "\n")
    jobs, tasks = read_event_log(str(log))
    assert jobs == [1_000, 2_100]
    assert len(tasks) == 4

    spans = [Span("a", 1.0, 2.0, 0.0, 0), Span("b", 2.0, 3.0, 0.0, 0)]
    a, b = attribute(spans, jobs, tasks)
    assert (a["jobs"], a["tasks"], b["jobs"], b["tasks"]) == (1, 2, 1, 1)
    assert a["executor_cpu_s"] == 3.0
    assert a["shuffle_write_mb"] == 1.0
    assert a["spill_mb"] == 2.0
    assert a["peak_exec_mb"] == 3.0 and b["peak_exec_mb"] == 1.0
    assert a["max_task_ms"] == 700 and b["max_task_ms"] == 100


def test_link_precision_recall_on_hand_built_clusters():
    # clusters c1 = {d1, d2, d3}, c2 = {d4}; d5 was never linked
    canonical = [("d1", "c1"), ("d2", "c1"), ("d3", "c1"), ("d4", "c2")]
    truth = [("d1", 1), ("d2", 1), ("d3", 2), ("d4", 2), ("d5", 2)]
    # predicted pairs: 3 in c1; correct: (d1, d2); true: 1 for entity 1
    # and 3 for entity 2
    assert link_precision_recall(canonical, truth) == (1 / 3, 1 / 4)


def test_link_precision_recall_perfect_and_empty():
    truth = [("d1", 1), ("d2", 1), ("d3", 2)]
    assert link_precision_recall([("d1", "x"), ("d2", "x")], truth) == (1.0, 1.0)
    assert link_precision_recall([], truth) == (1.0, 0.0)


def test_metric_names_match_benchmark_json():
    import run

    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    span = {"cpu_s": 1.0, "rows_out": 1, "wall_s": 1.0, "jobs": 1, "tasks": 1,
            "executor_cpu_s": 1.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
            "peak_exec_mb": 1.0, "max_task_ms": 1}
    record = {
        "op_s": 1.0, "cpu_s": 1.0, "setup_s": 1.0, "peak_rss_mb": 1.0,
        "setup": {"session_s": 1.0, "input_s": 1.0, "warmup_s": 1.0},
        "ops": [{"wall_s": 1.0, "cpu_s": 1.0, "store.write_mb": 1.0, "store.read_calls": 4}],
        "spans": [dict(span, name=n) for n in run.GraphLoops.span_names],
    }
    e2e = run.end_to_end(record)
    layer = run.per_layer(record, run.GraphLoops.span_names)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == [(k, u) for k, (_, u) in e2e.items()]
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == [(k, u) for k, (_, u) in layer.items()]
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
