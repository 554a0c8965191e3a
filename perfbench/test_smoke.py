"""Smoke tests of the benchmark itself: tiny inputs, one pass per workload.

    python -m pytest perfbench -q

Each (workload, trace) pair runs once, as a subprocess, and the assertions
read its output.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("suite_full", "dedup_pipeline", "resume_lineage")

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


@pytest.fixture(scope="module")
def smoke():
    """smoke(workload, trace) -> (run record, result line); each pair runs
    once per module as a subprocess, through the benchmark command line."""
    runs: dict = {}

    def run(workload: str, trace: int) -> tuple[dict, dict]:
        if (workload, trace) not in runs:
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                 "--seed", "1", "--seconds", "1", "--trace", str(trace), "--smoke"],
                cwd=ROOT, capture_output=True, text=True, timeout=600,
            )
            assert out.returncode == 0, out.stderr[-3000:]
            lines = out.stdout.strip().splitlines()
            runs[workload, trace] = json.loads(lines[-2]), json.loads(lines[-1])
        return runs[workload, trace]

    return run


@pytest.mark.parametrize("trace", (0, 1))
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_prints_and_every_pass_verifies(smoke, workload, trace):
    record, result = smoke(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] == len(record["passes"]) >= 1
    assert all(p["ok"] for p in record["passes"]), record["passes"]
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    for k in ("calibration_start", "calibration_end", "steal_s", "config"):
        assert k in record
    assert record["children_ended"]


@pytest.mark.parametrize(
    "workload",
    [
        "suite_full",
        "resume_lineage",
        pytest.param(
            "dedup_pipeline",
            marks=pytest.mark.xfail(
                strict=True,
                reason="ngram_jaccard_pairs(candidates='prefix') checkpoints its "
                "exploded shingle table where cache.release(result) cannot reach it",
            ),
        ),
    ],
)
def test_blocks_released_after_each_pass(smoke, workload):
    record, _ = smoke(workload, 0)
    assert [p["blocks_after_release"] for p in record["passes"]] == [0] * len(record["passes"])


def _traced(smoke, workload: str) -> dict:
    _, result = smoke(workload, 1)
    return {k: v["value"] for k, v in result["metrics"].items()}


def test_traced_run_covers_runner_phases(smoke):
    m = _traced(smoke, "suite_full")
    assert m["runner.phase_coverage"] >= 0.9
    assert m["trace.overhead"] > 0 and m["trace.spans"] > 0
    assert m["io.files_written"] == 0


def test_traced_resume_measures_io(smoke):
    m = _traced(smoke, "resume_lineage")
    assert m["io.files_written"] > 0 and m["io.write_s"] > 0 and m["io.merge_s"] > 0
    assert m["fingerprint.annotate_s"] > 0 and m["runner.union_mat_s"] > 0


def test_traced_dedup_reports_candidate_pruning(smoke):
    m = _traced(smoke, "dedup_pipeline")
    assert m["textops.shared_pairs"] >= m["textops.pairs_out"] > 0
    assert m["graph.clusters"] > 0


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "suite_full", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
    )
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
