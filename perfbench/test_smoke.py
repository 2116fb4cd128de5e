"""Smoke test of the benchmark on a 0.01-scale lake.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload traced and untraced, and checks that each reports
every metric with its unit and passes its correctness checks, and that
the generated inputs follow the seed.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import inputs  # noqa: E402
import run as bench  # noqa: E402


def _run(workload: str, trace: int) -> dict:
    cmd = [
        sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", "7",
        "--seconds", "1", "--trace", str(trace), "--scale", "0.01",
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    last = p.stdout.strip().splitlines()[-1]
    assert len(last) < 2000
    return json.loads(last)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", bench.WORKLOAD_NAMES)
def test_workload_reports_every_metric_and_is_correct(workload, trace):
    res = _run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    catalog = bench.PER_LAYER if trace else bench.END_TO_END
    assert {k: v["unit"] for k, v in res["metrics"].items()} == catalog
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())


def test_benchmark_json_names_the_catalog():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(bench.WORKLOAD_NAMES)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == bench.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == bench.PER_LAYER


def test_input_digest_follows_the_seed():
    lake = inputs.lake_frames(0.01)
    for make in (inputs.search_inputs, inputs.ingest_inputs):
        assert make(lake, 1)[-1] == make(lake, 1)[-1]
        assert make(lake, 1)[-1] != make(lake, 2)[-1]
