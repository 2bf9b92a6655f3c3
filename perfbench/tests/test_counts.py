"""Count metrics of a traced run repeat exactly across two runs of one
seed (each run is a fresh process, as the benchmark is run). Slow:
about three minutes per workload."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from conftest import ROOT

COUNTS = ["spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
          "pipelines.build_jobs", "plans.build_jobs",
          "operators.scd2.rows_written", "operators.scd2.bytes_written",
          "operators.scd2.rewrite_ratio", "streaming.ingest.jobs_per_batch"]


def _traced(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    return {k: v["value"] for k, v in result["metrics"].items()}


@pytest.mark.parametrize("workload", ["etl_batch_loads", "query_mix"])
def test_counts_repeat_exactly(workload):
    first, second = _traced(workload, 5), _traced(workload, 5)
    assert {k: first[k] for k in COUNTS} == {k: second[k] for k in COUNTS}
    assert first["spark.jobs"] > 0
