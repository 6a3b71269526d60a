"""The command's output contract, and the planted-error self-test end to end:
a corrupted membership makes the run report a failure."""

import json
import os
import subprocess
import sys

from perfbench import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _run(*args):
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=ROOT, capture_output=True, text=True, timeout=170,
    )
    return res.returncode, res.stdout.strip().splitlines(), res.stderr


def test_planted_error_is_reported_with_every_end_to_end_metric():
    code, out, err = _run(
        "--workload", "cascade_ingest", "--seed", "3", "--seconds", "1",
        "--trace", "0", "--plant-error",
    )
    assert code == 0, err[-2000:]
    result = json.loads(out[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is False and result["failed"] >= 1
    assert result["attempted"] >= result["failed"]

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    metrics = result["metrics"]
    assert set(metrics) == {m["name"] for m in spec["end_to_end"]}
    for m in spec["end_to_end"]:
        assert metrics[m["name"]]["unit"] == m["unit"]
    assert metrics["ok_frac"]["value"] < 1.0
    # the first timed batch comes after the set-up batches
    assert f"FAILED: membership after batch {workloads.SETUP_BATCHES}" in err

