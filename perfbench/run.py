"""Benchmark entry point: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload tick_stream --seed 1 --seconds 10 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` attaches spans to every layer from outside and
prints the per-layer metrics instead. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; the exit code is
non-zero when any correctness check fails. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

sys.dont_write_bytecode = True
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WORKLOADS = ("tick_stream", "bulk_ivm", "analytics_suite")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="analytics_suite scale factor (default: the workload's)")
    args = ap.parse_args(argv)

    from perfbench import harness, metrics

    run = harness.Run(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    run.configure_env()
    try:
        import importlib

        from risingwave_py_spark import registry

        mod = importlib.import_module(f"perfbench.{args.workload}")
        registry.load_all()
        if run.traced:
            from perfbench.trace import Tracer

            run.tracer = Tracer()
            run.tracer.install()
        run.start_session()
        res = mod.run(run, **({"sf": args.sf} if args.sf else {}))
        # the benchmark's own input generation and oracles are not set-up
        setup_s = res["t_first"] - T_PROCESS - res.get("harness_s", 0.0)
        if run.traced:
            out = metrics.per_layer(run, res,
                                    run.tracer.summary(T_PROCESS, res["t_first"]),
                                    run.tracer.summary(res["t_first"], res["t_last"]))
        else:
            out = metrics.end_to_end(res, setup_s)
        print(f"{args.workload}: setup {setup_s:.2f} s, "
              f"{run.attempted} ops, {run.failed} failed", file=sys.stderr)
    finally:
        if run.tracer is not None:
            run.tracer.uninstall()
        run.stop()
    run.emit(out)
    return 0 if run.correct and not run.failed else 1


if __name__ == "__main__":
    sys.exit(main())
