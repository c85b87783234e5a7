"""Tiny-size smoke test of the benchmark itself.

Run from the repository root (each case starts its own Spark; ~3 min):

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
TINY = ["--seed", "3", "--seconds", "1", "--images", "2500", "--zones", "200"]


def bench(*args: str) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, *SPEC["command"][1:]), *args],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    meta = json.loads(lines[-2])["meta"]
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    return {"meta": meta, **result}


def assert_metrics(result: dict, spec: list) -> None:
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    assert set(result["metrics"]) == {m["name"] for m in spec}


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_end_to_end_metrics_and_correctness(workload):
    r = bench("--workload", workload, "--trace", "0", *TINY)
    assert_metrics(r, SPEC["end_to_end"])
    assert r["metrics"]["ok_frac"]["value"] == 1.0
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1


def test_traced_run_emits_per_layer_metrics_and_lanes_agree():
    r = bench("--workload", "spatial_join", "--trace", "1", *TINY)
    assert_metrics(r, SPEC["per_layer"])
    assert r["correct"]
    assert r["meta"]["cross_lane"]["same"]
    assert r["metrics"]["pip_join.jobs"]["value"] >= 1
    assert r["metrics"]["pip_join_shuffled.rows_out"]["value"] >= 1


def test_corrupted_reference_is_caught():
    r = bench("--workload", "spatial_join", "--trace", "0",
              "--corrupt", "pip_join", *TINY)
    assert r["metrics"]["ok_frac"]["value"] < 1.0
    assert not r["correct"] and r["failed"] >= 1
