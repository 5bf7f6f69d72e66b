"""Smoke test of the benchmark itself: every workload at a few hundred
clips, untraced and traced, must print every metric BENCHMARK.json names
(with its unit) and report no failed operation. The hand-run resume
workload, which BENCHMARK.json leaves out, is smoke-tested too.

    python3 -m pytest perfbench/test_smoke.py -q

The resume workload runs at 2,000 clips: at 300 a resumed drift stage
appends the drift rows of partitions that were not re-opened a second
time (see ``test_resume_keeps_drift_rows``), which the output gate
rightly counts as a failure.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


SMOKE_CLIPS = {"reopen_8k": 2000}
WORKLOADS = [w["name"] for w in SPEC["workloads"]] + ["reopen_8k"]


def run_bench(workload: str, trace: int, clips: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--clips", str(clips)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_emits_every_metric(workload, trace):
    out = run_bench(workload, trace, SMOKE_CLIPS.get(workload, 300))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True
    assert out["failed"] == 0 and out["attempted"] >= 3
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


@pytest.mark.xfail(strict=True, reason="a resumed drift stage rewrites drift rows of "
                   "partitions it did not re-open, duplicating them")
def test_resume_keeps_drift_rows():
    out = run_bench("reopen_8k", 0, 300)
    assert out["failed"] == 0


def test_bare_directory_fails(tmp_path):
    """Without the engine's sources next to it the benchmark must fail
    without printing a result."""
    for path in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", SPEC["workloads"][0]["name"],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
