"""Run-to-run spread of the end-to-end metrics.

Runs one workload once per seed (one run at a time) and reports, for
each metric, the median of the runs and the distance between their
first and third quartiles as a share of that median — the figure each
metric's ``bound`` in BENCHMARK.json must stay above.

    python3 perfbench/spread.py --workload bulk_ivm --seeds 1 2 3 4 5
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        t0 = time.perf_counter()
        p = subprocess.run(
            spec["command"] + ["--workload", args.workload, "--seed", str(seed),
                               "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True)
        wall = time.perf_counter() - t0
        if p.returncode != 0:
            print(p.stderr[-3000:], file=sys.stderr)
            print(f"seed {seed}: exit {p.returncode}")
            return 1
        out = json.loads(p.stdout.strip().splitlines()[-1])
        row = {k: v["value"] for k, v in out["metrics"].items()}
        for k, v in row.items():
            values.setdefault(k, []).append(v)
        print(f"seed {seed} ({wall:.0f} s wall): "
              + " ".join(f"{k}={v:.4g}" for k, v in row.items()), flush=True)
    for k, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2:
            q1, _, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med if med else float("inf")
        else:
            spread = 0.0
        print(f"{k:16s} median {med:10.4g}  spread {spread:6.3f}  bound {bounds.get(k)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
