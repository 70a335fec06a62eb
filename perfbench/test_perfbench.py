"""Self-tests of the benchmark: `python -m pytest perfbench/ -q`.

The smoke runs use the tiny `--smoke` inputs and take a few minutes in
all; the parser and exit-code tests need no Spark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(argv: list[str], prelude: str = "") -> tuple[dict, dict]:
    """Run the benchmark in a fresh process, like a standard run; returns
    (report line, result line)."""
    code = (
        f"import sys; sys.path[:0] = [{HERE!r}, {ROOT!r}]\n"
        f"{prelude}\n"
        "import run; sys.exit(run.main(sys.argv[1:]))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code, *argv],
        cwd=ROOT, capture_output=True, text=True, timeout=900, check=True,
    )
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("workload", ["recipe_logs", "agg_sweep", "query_fleet"])
def test_smoke_reports_every_end_to_end_metric(workload):
    _, result = _run(["--workload", workload, "--seed", "3", "--seconds", "1",
                      "--trace", "0", "--smoke"])
    names = {m["name"]: m["unit"] for m in _bench_json()["end_to_end"]}
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == names
    assert result["attempted"] >= 1
    assert result["failed"] == 0 and result["correct"] is True


def test_wrong_expected_output_counts_as_failure():
    # every expected ratio 50% high: each recipe_logs op must fail its check
    prelude = (
        "import gen\n"
        "_orig = gen.expected_summary\n"
        "gen.expected_summary = lambda r, t: _orig(r, t).assign(Ratio=lambda d: d.Ratio * 1.5)\n"
    )
    report, result = _run(["--workload", "recipe_logs", "--seed", "3", "--seconds", "1",
                           "--trace", "0", "--smoke"], prelude)
    assert report["fail_ratio"] > 0
    assert result["failed"] == result["attempted"] and result["correct"] is False


def test_traced_smoke_reports_every_per_layer_metric():
    _, result = _run(["--workload", "recipe_logs", "--seed", "3", "--seconds", "1",
                      "--trace", "1", "--smoke"])
    names = {m["name"]: m["unit"] for m in _bench_json()["per_layer"]}
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == names
    for name in ("sources.scan_jobs", "core.infer_numeric_jobs", "expr.compiles",
                 "operators.pivot_variants", "spark.jobs", "spark.tasks"):
        assert metrics[name] > 0, name
    assert metrics["op.build_jobs"] + metrics["op.action_jobs"] == metrics["spark.jobs"]


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "agg_sweep", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0 and out.stdout == ""


def test_fleet_check_compares_with_the_oracle():
    from workloads import compare_rows

    rows = [(1, 2, 0.5), (0, 3, 1.0 / 3.0)]
    oracle = [(3, 0, 1.0 / 3.0), (2, 1, 0.5)]
    # same rows in another order, oracle columns in another order
    assert compare_rows(["a", "b", "j"], rows, ["b", "a", "j"], oracle) is None
    assert compare_rows(["a", "b", "j"], rows, ["b", "a", "j"], oracle[:1]) is not None
    assert compare_rows(["a", "b", "j"], rows, ["b", "a", "x"], oracle) is not None
    wrong = [(3, 0, 0.3334), (2, 1, 0.5)]
    assert compare_rows(["a", "b", "j"], rows, ["b", "a", "j"], wrong) is not None


def test_event_log_parser(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "op"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 500, "Executor CPU Time": 250_000_000, "JVM GC Time": 10,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 1 << 20},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 1 << 20},
            "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
            "Input Metrics": {"Bytes Read": 2 << 20}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1600},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1400,
         "Stage IDs": [2], "Properties": {}},
    ]
    (tmp_path / "local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    log = tracing.parse_event_log(str(tmp_path), "local-1")
    assert set(log) == {"op"}
    m = tracing.spark_metrics(
        {"op": (0.5, 2.0)}, {"op": {"jobs": 1, "stages": 1, "tasks": 1}}, log, build_jobs=1
    )
    assert m["spark.driver_only_s"] == pytest.approx(1.5 - 0.6)
    assert m["spark.task_cpu_s"] == pytest.approx(0.25)
    assert m["spark.cpu_util"] == pytest.approx(0.5)
    assert m["spark.shuffle_write_mb"] == pytest.approx(1.0)
    assert m["spark.input_mb"] == pytest.approx(2.0)
    assert m["spark.barrier_job_share"] == 1.0


def test_union_of_intervals():
    assert tracing._union_len([(0, 2), (1, 3), (5, 6)]) == 4
    assert tracing._union_len([]) == 0
