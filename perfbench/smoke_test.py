"""Smoke test of the benchmark itself, at the smallest scale.

Runs every workload end to end, untraced and traced, with a couple of
seconds of load (analytics_suite at sf0.001), and asserts that each
run's last line names every metric of BENCHMARK.json with its unit,
that the correctness checks passed and that the checkout is unchanged.

    python3 perfbench/smoke_test.py          # or: python3 -m pytest perfbench/smoke_test.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.run import WORKLOADS  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", str(trace)]
    if workload == "analytics_suite":
        cmd += ["--sf", "0.001"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def _check_workload(workload: str) -> None:
    spec = _spec()
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        out = _run(workload, trace)
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
        assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in spec[key]}
        got = {k: v["unit"] for k, v in out["metrics"].items()}
        assert got == want
        for name, v in out["metrics"].items():
            assert isinstance(v["value"], (int, float)), name
            if key == "end_to_end":
                assert v["value"] > 0, name
    assert not os.path.exists(os.path.join(HERE, ".work")) or not os.listdir(
        os.path.join(HERE, ".work"))


def test_tick_stream():
    _check_workload("tick_stream")


def test_bulk_ivm():
    _check_workload("bulk_ivm")


def test_analytics_suite():
    _check_workload("analytics_suite")


if __name__ == "__main__":
    for w in WORKLOADS:
        _check_workload(w)
        print(f"ok {w}", flush=True)
