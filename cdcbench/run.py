#!/usr/bin/env python3
"""Benchmark entry point.

    python3 cdcbench/run.py --workload backfill|serve|queries --seed N \\
        --seconds S --trace 0|1

Prints a ``detail`` JSON line, then, as the last line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
``--perturb`` corrupts every expectation, so a live check must report
``correct: false`` (the benchmark's own tests use it).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cdcbench import common  # noqa: E402

WORKLOADS = ("backfill", "serve", "queries")
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "op_gmean_s": "s",
    "throughput_per_s": "1/s",
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--perturb", action="store_true")
    args = ap.parse_args(argv)

    # the engine must be importable before anything is measured or printed
    import airbyte_module_spark  # noqa: F401
    import importlib

    from cdcbench import probes

    workload = importlib.import_module(f"cdcbench.{args.workload}")
    with common.RunDir(args.workload) as run_dir:
        common.pin_env(run_dir)
        # inputs and expectations first: neither set-up time nor peak memory
        # counts them
        inputs = workload.prepare(args, run_dir)
        try:
            with common.RssSampler() as rss:
                e2e, layers, out = workload.run(args, run_dir, inputs)
        finally:
            common.stop_spark()
        e2e["peak_rss_mb"] = rss.peak_mb
    if args.trace:
        names = probes.PER_LAYER
        values = {k: float(layers.get(k, 0.0)) for k in names}
    else:
        names = END_TO_END
        values = e2e
    metrics = {k: {"value": values[k], "unit": names[k]} for k in names}
    out["detail"]["rss_mb_at_peak"] = {k: v >> 20 for k, v in rss.at_peak.items()}
    out["detail"]["workload"] = args.workload
    out["detail"]["seed"] = args.seed
    common.emit(
        {
            "correct": bool(out["correct"]),
            "attempted": int(out["attempted"]),
            "failed": int(out["failed"]),
            "metrics": metrics,
        },
        out["detail"],
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
