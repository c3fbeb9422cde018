"""Tests of the benchmark itself.

Unit tests run in a second; the smoke tests start Spark, run every workload
at ``--scale 0.1`` in both trace modes (about a minute each) and can be
skipped with ``-k "not smoke"``.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import checks  # noqa: E402
import run  # noqa: E402
import tracer  # noqa: E402


def load_benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_declares_what_run_reports():
    bench = load_benchmark_json()
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert all(m["bound"] <= setup["bound"] <= 0.25 for m in bench["end_to_end"])


def test_digest_ignores_row_order():
    rows = [("c#1", "c#0"), ("c#0", "c#0"), ("d#0", "d#0")]
    assert checks.digest(rows) == checks.digest(list(reversed(rows)))
    assert checks.digest(rows) != checks.digest(rows[:2])


def test_cluster_invariants():
    good = [("a#0", "a#0"), ("a#1", "a#0"), ("b#0", "b#0")]
    assert checks.cluster_invariants(good, expected_keys=3) == []
    assert checks.cluster_invariants(good + [("a#1", "a#0")], expected_keys=3)  # duplicate row
    assert checks.cluster_invariants([("a#0", "a#1"), ("a#1", "a#1")])  # id is not the least member
    assert checks.cluster_invariants(good, expected_keys=4)  # a turn is missing


def test_negative_control_one_perturbed_row_fails_one_operation():
    rows = [("a#0", "a#0"), ("a#1", "a#0"), ("b#0", "b#0")]
    ledger = checks.Ledger()
    assert ledger.record("batch", "first", rows)
    perturbed = [("a#0", "a#0"), ("a#1", "b#0"), ("b#0", "b#0")]
    assert not ledger.record("batch", "second", perturbed)
    assert (ledger.attempted, ledger.failed) == (2, 1)


def test_recorded_digest_is_the_reference():
    rows = [("a#0", "a#0")]
    ledger = checks.Ledger({"batch": "0" * 64})
    assert not ledger.record("batch", "first", rows)
    assert ledger.failed == 1


def test_stream_oracle_merges_through_shared_entities():
    got = dict(checks.stream_oracle([("t#0", ["x"]), ("t#1", ["y"]), ("t#2", ["x", "y"]), ("t#3", []), ("u#0", ["z"])]))
    assert got == {"t#0": "E#x", "t#1": "E#x", "t#2": "E#x", "u#0": "E#z"}


def test_stage_counters_sum_by_job_group():
    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [1, 2], "Properties": {"spark.jobGroup.id": "stage:mentions"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [3], "Properties": {}},
        {
            "Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": 1, "Accumulables": [
                {"Name": "internal.metrics.executorCpuTime", "Value": "2000000000"},
                {"Name": "time to run Python workers", "Value": "1500"},
            ]},
        },
        {
            "Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": 3, "Accumulables": [{"Name": "internal.metrics.executorCpuTime", "Value": "7"}]},
        },
    ]
    assert tracer.stage_counters(events) == {"mentions": {"jobs": 1.0, "cpu_s": 2.0, "python_s": 1.5}}


def test_memory_peaks_take_the_largest_task_end_sample():
    events = [
        {"Event": "SparkListenerTaskEnd", "Task Executor Metrics": {"JVMHeapMemory": 0},
         "Task Metrics": {"Peak Execution Memory": 5}},
        {"Event": "SparkListenerTaskEnd", "Task Executor Metrics": {"JVMHeapMemory": 300},
         "Task Metrics": {"Peak Execution Memory": 2}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
    ]
    assert tracer.memory_peaks(events) == {"jvm_heap_bytes": 300.0, "task_execution_bytes": 5.0}


def test_host_delta_shares():
    before = [0] * 8
    after = [50, 0, 20, 20, 0, 0, 0, 10]
    h = tracer.host_delta(before, after)
    assert h == {"steal_pct": 10.0, "sys_pct": 20.0}


# -- smoke: the real command at a tiny size ------------------------------------


def bench(*args, cwd=ROOT):
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return p


def smoke(workload: str, trace: int, *extra):
    """(result line, detail line) of one tiny-size run."""
    p = bench("--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace), "--scale", "0.1", *extra)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])


@pytest.mark.parametrize("workload", list(run.WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_every_metric_with_its_unit(workload, trace):
    result, detail = smoke(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    expected = run.END_TO_END if trace == 0 else run.PER_LAYER
    assert {k: v["unit"] for k, v in result["metrics"].items()} == expected
    values = {k: v["value"] for k, v in result["metrics"].items()}
    if trace == 0:
        assert all(v > 0 for v in values.values())
    else:
        assert values["pipeline.scored_pairs.wall_s"] > 0 and values["pipeline.entity_clusters.wall_s"] > 0
        assert values["spark.scored_pairs.jobs"] > 0
        # both are also counted as checks of the run, so failed == 0 above
        # already says they held
        assert values["trace.stage_coverage"] >= run.MIN_STAGE_COVERAGE
        assert values["stream.buckets_rewritten"] > 0
        # Catalog.write spans are named by the table written
        assert {f"catalog.write:{s}" for s in run.STAGES} <= set(detail["spans"]["batch"])


def test_smoke_negative_control_counts_a_failed_operation():
    result, _ = smoke("er_synth", 0, "--perturb")
    assert result["correct"] is False
    assert result["failed"] == 1


def test_without_the_engine_it_exits_nonzero_and_prints_no_result():
    # a directory holding only BENCHMARK.json and perfbench/, inside the
    # checkout's ignored work directory
    bare = os.path.join(ROOT, ".perfbench_work", f"bare-{os.getpid()}")
    try:
        shutil.copytree(BENCH_DIR, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__", "tests"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), os.path.join(bare, "BENCHMARK.json"))
        p = bench("--workload", "er_synth", "--seed", "1", "--seconds", "1", "--trace", "0", cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
