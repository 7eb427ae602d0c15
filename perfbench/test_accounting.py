"""Layer-accounting self-test of the benchmark.

    python3 -m pytest perfbench -q -p no:cacheprovider

Runs one short traced run of ``sql_star`` and one of ``streaming`` and
checks, on the artifact each writes:

- each query's build and collect spans cover its query span, within the
  stated tolerance (the gap is the tracer's job-group calls);
- the per-query job totals equal the status tracker's job count for the
  run, minus the warm-up;
- every ``st*`` query produced at least one listener batch.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, ROOT)

from perfbench.run import Spans, end_to_end, steal_frac  # noqa: E402


def spec_names(kind: str) -> set[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"] for m in json.load(fh)[kind]}


def traced_run(workload: str) -> tuple[subprocess.CompletedProcess, dict | None]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    marker = "perfbench: trace written to "
    paths = [ln[len(marker):] for ln in proc.stderr.splitlines() if ln.startswith(marker)]
    artifact = None
    if paths:
        with open(paths[-1]) as fh:
            artifact = json.load(fh)
    return proc, artifact


@pytest.mark.parametrize("workload", ["sql_star", "streaming"])
def test_layers_account_for_each_query(workload):
    proc, artifact = traced_run(workload)
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == spec_names("per_layer")
    acc = artifact["accounting"]
    assert acc["query_self_over_tolerance"] == {}, acc
    assert acc["query_jobs"] == acc["tracker_jobs"], acc
    assert acc["stream_queries_without_batches"] == [], acc


def test_end_to_end_metrics_match_the_spec():
    executions = [
        {"query": "a", "latency_s": 1.0, "error": None},
        {"query": "b", "latency_s": 4.0, "error": None},
    ]
    metrics = end_to_end(executions, setup_s=3.0)
    assert set(metrics) == spec_names("end_to_end")
    assert metrics["wall_s"]["value"] == pytest.approx(5.0)
    assert metrics["query_geomean_s"]["value"] == pytest.approx(2.0)


def test_self_time_subtracts_covered_children():
    spans = Spans()
    spans.records = [
        {"id": 0, "name": "query", "start": 0.0, "end": 10.0, "parent": None, "query": "q"},
        {"id": 1, "name": "build", "start": 1.0, "end": 4.0, "parent": 0, "query": "q"},
        {"id": 2, "name": "collect", "start": 3.0, "end": 9.0, "parent": 0, "query": "q"},
    ]
    timed = {s["name"]: s["self"] for s in spans.with_self_time()}
    assert timed["query"] == pytest.approx(2.0)
    assert timed["build"] == pytest.approx(3.0)


def test_steal_frac_is_stolen_share_of_wanted_cpu_time():
    # (busy, stolen) jiffies: 90 busy and 10 stolen between the readings
    assert steal_frac((100, 5), (190, 15)) == pytest.approx(0.1)
    assert steal_frac((0, 0), (0, 0)) == 0.0


def test_fails_without_the_engine():
    """In a directory holding only the benchmark it exits non-zero and
    prints no result."""
    os.makedirs(os.path.join(BENCH_DIR, "out"), exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=os.path.join(BENCH_DIR, "out"))
    try:
        shutil.copytree(BENCH_DIR, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("out", "__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "sql_star", "--seed", "1",
             "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180,
        )
    finally:
        shutil.rmtree(bare)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
