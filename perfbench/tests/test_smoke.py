"""Smoke test for the benchmark: every workload once at tiny size, in
both modes.

    python3 -m pytest perfbench/tests -q

Takes several minutes (eight Spark start-ups).  Checks that each run
prints every metric BENCHMARK.json names with its unit, that no op
failed its output check, that every Spark job in the traced pass
carried an op tag, and that each traced run reads above 0 on the layer
metrics of the layers its workload reaches.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
WORKLOADS = ["gold_queries", "curation_batch", "daily_refresh", "ann_serve"]

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)

# layer metrics each workload must read above 0 in its traced run
REACHED = {
    "gold_queries": [
        "catalog.load_table_s", "catalog.load_table_calls", "plans.construct_s",
        "spark.action_s", "spark.stages", "spark.tasks", "spark.task_run_s",
        "catalog.self_s", "plans.self_s", "spark.self_s",
    ],
    "curation_batch": [
        "plans.construct_s", "plans.construct_jobs", "spark.task_cpu_s",
        "spark.output_bytes", "incremental.merge_s", "incremental.merge_rows",
        "incremental.overwrite_s", "incremental.files_written",
        "snapshots.commit_s", "snapshots.commit_bytes", "snapshots.refresh_s",
        "snapshots.changed_partition_ratio", "catalog.self_s", "plans.self_s",
        "incremental.self_s", "snapshots.self_s", "dedup.self_s", "text.self_s",
        "spark.self_s",
    ],
    "daily_refresh": [
        "incremental.merge_s", "incremental.merge_rows", "incremental.overwrite_s",
        "incremental.files_written", "snapshots.commit_s", "snapshots.commit_bytes",
        "snapshots.refresh_s", "snapshots.changed_partition_ratio",
        "plans.self_s", "incremental.self_s", "snapshots.self_s",
    ],
    "ann_serve": [
        "ann_index.build_s", "ann_index.save_s", "ann_index.load_s",
        "ann_index.bytes", "ann_build_s", "recall_at_10",
        "similarity.serve_construct_s", "similarity.serve_action_s",
        "ann_index.self_s", "similarity.self_s", "spark.self_s",
    ],
}


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _assert_metrics(result: dict, kind: str) -> None:
    expected = {m["name"]: m["unit"] for m in SPEC[kind]}
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    got = {name: m["unit"] for name, m in result["metrics"].items()}
    assert got == expected
    assert all(isinstance(m["value"], (int, float)) for m in result["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_prints_end_to_end_metrics(workload):
    result = _result(_run(ROOT, "--workload", workload, "--seed", "3",
                          "--seconds", "1", "--trace", "0", "--size", "tiny"))
    _assert_metrics(result, "end_to_end")
    assert all(m["value"] > 0 for m in result["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_prints_layer_record(workload):
    result = _result(_run(ROOT, "--workload", workload, "--seed", "3",
                          "--seconds", "1", "--trace", "1", "--size", "tiny"))
    _assert_metrics(result, "per_layer")
    metrics = {k: m["value"] for k, m in result["metrics"].items()}
    assert metrics["failed_ops_ratio"] == 0
    assert metrics["spark.untagged_jobs"] == 0
    common = ["session.build_s", "session.self_s", "spark.jobs", "op_samples", "peak_rss_mb"]
    unreached = [m for m in common + REACHED[workload] if not metrics[m] > 0]
    assert not unreached, unreached


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    run exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "--workload", WORKLOADS[0], "--seed", "1",
                "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert not proc.stdout.strip()
