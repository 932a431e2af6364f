"""Two traced runs of one seed must report identical job counts.

Job counts are the noise-free proxy for the barrier-bound loops, so a
later change can rest a claim on them only if they repeat exactly.
Slow (four benchmark runs, ~4 min on 4 cores); not part of tests/.

    python3 -m pytest perfbench/test_trace_repeat.py -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

RUN = Path(__file__).resolve().parent / "run.py"


def traced(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, str(RUN), "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", "1"],
        capture_output=True, text=True, timeout=600, check=True,
    ).stdout
    result = json.loads(out.strip().splitlines()[-1])
    assert result["correct"], out
    return result["metrics"]


@pytest.mark.parametrize("workload", ["tri-rmat", "web-iter"])
def test_job_counts_repeat(workload):
    first, second = traced(workload, 3), traced(workload, 3)
    jobs = sorted(k for k in first if k.endswith(".jobs"))
    assert jobs
    assert {k: first[k]["value"] for k in jobs} == {k: second[k]["value"] for k in jobs}
