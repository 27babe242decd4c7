"""Smoke test of the benchmark itself: every workload at a tiny size, both
with and without tracing, must emit every metric BENCHMARK.json names, with
its unit, and fail no operation.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_emits_every_metric(workload, trace):
    res = subprocess.run(
        [sys.executable, *SPEC["command"][1:], "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=300, check=True,
    )
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {
        k: v["unit"] for k, v in out["metrics"].items()
    }
    values = {k: v["value"] for k, v in out["metrics"].items()}
    for m in want:
        assert isinstance(values[m["name"]], (int, float))
        if not trace:
            assert values[m["name"]] > 0
    # a broken span/job-group join reads as zeros, so the layers each
    # workload must touch are checked for non-zero values
    if trace:
        must = {
            "ml": ("build.s", "build.jobs", "action.jobs", "action.result_rows",
                   "cache.calls", "cache.builds_cold", "tasks.run_s"),
            "etl": ("upsert.path_s", "upsert.snapshot_s", "upsert.dbapi_s", "scd2.write_s",
                    "upsert.rows_updated", "upsert.rows_inserted", "write.files",
                    "write.output_bytes", "driver.jobs_busy_s", "cpu.pyworker_s"),
        }[workload.split("-")[0]]
        assert {k: values[k] for k in must if values[k] <= 0} == {}
