"""Tiny-scale runs of every workload: each prints every metric it owes,
with the unit BENCHMARK.json gives it, and its output checks pass.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(cwd, *args, timeout=300):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


def _result(proc):
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize(
    "workload", ["query_topk", "ingest_merge_query", "bulk_build"])
def test_untraced_run_prints_every_end_to_end_metric(workload):
    res = _result(_run(ROOT, "--workload", workload, "--seed", "1",
                       "--seconds", "1", "--trace", "0", "--scale", "tiny"))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0
    assert res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_traced_run_prints_every_per_layer_metric():
    proc = _run(ROOT, "--workload", "ingest_merge_query", "--seed", "2",
                "--seconds", "1", "--trace", "1", "--scale", "tiny")
    res = _result(proc)
    assert res["correct"] is True
    want = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    detail = json.loads(proc.stdout.strip().splitlines()[-2])
    # ingest+merge+query touches every layer but the WAND pruning ratio,
    # which it measures too: nothing is left unmeasured
    assert detail["not_measured"] == []
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["spark.jobs_per_query"] >= 1
    assert m["build.jobs_per_batch"] >= 1
    assert m["merge.fan_in"] >= 2
    assert m["spark.tasks_failed"] == 0


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(tmp_path, "--workload", "query_topk", "--seed", "1",
                "--seconds", "1", "--trace", "0", timeout=120)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
