"""Benchmark entry point.

    python3 perfbench/run.py --workload tick_analytics --seed 1 \\
        --seconds 20 --trace 0

Run from the repository root. Prints one context line (host, sample
counts, check details; prefixed ``context``) and, as the last line of
standard output, the result object: ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end
metrics, ``--trace 1`` the per-layer metrics from a separate traced
run, whose spans are written to ``perfbench/.cache/out/``.

Exits non-zero without a result when the package is not importable
(for instance outside a checkout of the repository).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        importlib.import_module("datafusion_functions_financial_spark")
    except ImportError as exc:
        print(f"perfbench: the package is not importable from {ROOT}: "
              f"{exc}", file=sys.stderr)
        return 2

    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; expected "
              f"one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    run = workloads.Run(ROOT, args.seed, args.seconds, bool(args.trace),
                        T_START)
    host = run.host_context()
    try:
        result, ctx = workloads.WORKLOADS[args.workload](run)
    finally:
        run.stop_spark()
    host["loadavg_end"] = list(os.getloadavg())
    ctx["host"] = host

    out_dir = os.path.join(run.cache, "out")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{args.workload}-s{args.seed}-t{args.trace}"
    if args.trace:
        run.tracer.dump(os.path.join(out_dir, stem + "-spans.json"))
    line = {"correct": result["failed"] == 0, **result}
    with open(os.path.join(out_dir, stem + ".json"), "w") as f:
        json.dump({"context": ctx, "result": line}, f, indent=1)
    print("context " + json.dumps(ctx, default=str))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
