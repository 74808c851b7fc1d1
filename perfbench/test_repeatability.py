"""Repeatability self-test of the benchmark (slow: about twelve minutes).

    python3 -m pytest perfbench/test_repeatability.py -q

Two traced runs with one seed must agree exactly on every count the
trace takes (jobs, stages, tasks, rows, files written, ingest bytes) and
on the quality figures, and within 1e-4 on the bytes a compaction
rewrites; two seeds must give a ``quality`` within the
benchmark's own bound. At ``--seconds 1`` an untraced run measures one
round and a traced run four.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("campaign_query", "index_churn")
EXACT_SUFFIXES = (".jobs_per_op", ".stages_per_op", ".tasks_per_op")
EXACT = {
    "ingest.rows", "ingest.jobs", "ingest.tasks", "ingest.bytes_written",
    "index.build_jobs", "sources.loads_per_op", "state.files_written_per_op",
    "compact.count", "graph.recall_at_10", "dedup.planted_recall",
}
# A compaction rewrites parquet files from shuffled rows, and the shuffle
# fetch order decides the row order inside a file, so the compressed size
# can differ by a few bytes between identical runs (5 of 6.9 MB seen).
NEAR = {"state.bytes_written_per_row", "compact.bytes_rewritten"}
NEAR_REL = 1e-4


def bench(workload: str, seed: int, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0, proc.stderr[-3000:]
    return {k: v["value"] for k, v in res["metrics"].items()}


def quality_bound() -> float:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return next(m["bound"] for m in spec["end_to_end"] if m["name"] == "quality")


@pytest.mark.parametrize("workload", WORKLOADS)
def test_one_seed_repeats_counts_exactly(workload):
    a, b = bench(workload, 7, trace=1), bench(workload, 7, trace=1)
    keys = sorted(k for k in a if k in EXACT or k.endswith(EXACT_SUFFIXES))
    assert {k: a[k] for k in keys} == {k: b[k] for k in keys}
    for k in NEAR:
        assert a[k] == pytest.approx(b[k], rel=NEAR_REL), k


@pytest.mark.parametrize("workload", WORKLOADS)
def test_two_seeds_quality_within_bound(workload):
    q7, q8 = bench(workload, 7, trace=0)["quality"], bench(workload, 8, trace=0)["quality"]
    assert abs(q7 - q8) <= quality_bound() * max(q7, q8)
