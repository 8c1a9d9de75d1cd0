"""Counts from the traced run are exact: two traced runs of the same
workload and seed report identical job, stage, exchange, cache-build,
files-read and files-written counts.

    python3 -m pytest perfbench/tests -q

Each case starts two benchmark processes at the smoke size.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

BENCH_DIR = Path(__file__).resolve().parents[1]
ROOT = BENCH_DIR.parent

COUNTS = (
    "exec.jobs",
    "exec.stages",
    "catalyst.exchanges",
    "caching.calls",
    "caching.builds",
    "io.load_jobs",
    "plans.build_jobs",
    "exec.files_read",
    "etl.api_requests",
    "etl.files_written",
    "etl.merge_files_read",
)


def traced_counts(workload: str, seed: int) -> dict[str, float]:
    proc = subprocess.run(
        [sys.executable, str(BENCH_DIR / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1", "--size", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    return {k: result["metrics"][k]["value"] for k in COUNTS}


@pytest.mark.parametrize("workload", ["analytics", "llm_corpus", "etl_rawzone"])
def test_traced_counts_repeat(workload):
    first = traced_counts(workload, seed=7)
    second = traced_counts(workload, seed=7)
    assert first == second
    assert first["exec.jobs"] > 0 and first["exec.stages"] > 0
