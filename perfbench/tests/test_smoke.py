"""Tiny-size runs of every workload through the benchmark's command,
with their correctness checks, plus the traced run and the exit code
where the package is missing. Each run starts its own JVM (~30 s)."""

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(HERE))

import layers  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run_bench(cwd, workload, trace, env=None):
    return subprocess.run(
        [
            sys.executable,
            "perfbench/run.py",
            "--workload", workload,
            "--seed", "7",
            "--seconds", "1",
            "--trace", str(trace),
            "--scale", "tiny",
        ],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )


def result_line(proc):
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    return out


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_runs_and_passes_its_checks(workload):
    proc = run_bench(ROOT, workload, 0)
    out = result_line(proc)
    assert out["correct"], proc.stdout
    assert out["failed"] == 0 and out["attempted"] >= 2
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())
    assert "# failed_frac = 0.0 frac" in proc.stdout


def test_traced_run_reports_every_layer_metric():
    out = result_line(run_bench(ROOT, "incremental_sync", 1))
    assert out["correct"] and out["failed"] == 0
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert 0 < m["trace.reconcile_err_frac"] <= 0.01
    assert 0 < m["trace.unattributed_frac"] <= 0.10
    # the layers this workload is built to reach did work
    for name in (
        "sources.versioned.change_feed_s",
        "sources.versioned.commit_version_jobs",
        "operators.guards.row_count_guard_jobs",
        "sinks.writers.write_export.cdc.executor_run_s",
        "sinks.writers.write_export.tb.tasks",
    ):
        assert m[name] > 0, name
    # and the ones it bypasses did none
    assert m["registry.exec_s"] == 0 and m["sinks.writers.write_manifest_s"] == 0


def test_spec_lists_the_layer_metrics_the_code_emits():
    assert [m["name"] for m in SPEC["per_layer"]] == layers.names()
    assert all(m["unit"] == layers.unit(m["name"]) for m in SPEC["per_layer"])


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = run_bench(str(tmp_path), "bulk_export", 0, env=env)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
