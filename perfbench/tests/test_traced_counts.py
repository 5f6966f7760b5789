"""Two traced runs with the same seed must report the same exact
counts. Each run starts its own Spark session (about a minute per run).

    python3 -m pytest perfbench/tests/test_traced_counts.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EXACT = {
    "curation": ("plans.jobs_per_op", "plans.stages_per_op", "plans.tasks_per_op"),
    "lakehouse": (
        "plans.jobs_per_op",
        "plans.stages_per_op",
        "plans.tasks_per_op",
        "sources.txlog.files_added_per_commit",
        "sources.txlog.files_removed_per_commit",
        "sources.txlog.snapshot_files",
        "streaming.cdf.rows_per_poll",
    ),
}


def traced_run(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stdout[-2000:] + out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(EXACT))
def test_exact_counts_repeat_with_same_seed(workload):
    a, b = traced_run(workload, 7), traced_run(workload, 7)
    assert a["correct"] and b["correct"]
    for name in EXACT[workload]:
        assert a["metrics"][name]["value"] > 0, name
        assert a["metrics"][name] == b["metrics"][name], name
