"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload kron_batch --seed 1 --seconds 30 --trace 0

Run from the repository root. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones; with --trace 1 they are the per-layer ones, and the
run's spans are written under perfbench/.work/traces/. Progress goes to
stderr. README.md explains the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["kron_batch", "kron_stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    try:
        import graphzeppelin_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the graphzeppelin_spark package is missing: {e}", file=sys.stderr)
        return 2

    from perfbench import host, layers, workloads

    host.prepare_env()
    run = workloads.Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        metrics, per_layer = workloads.WORKLOADS[args.workload](run)
        if args.trace:
            run.tracer.write(os.path.join(host.WORK_DIR, "traces", f"{run.tracer.run_id}.json"))
    finally:
        if run.spark is not None:
            host.shutdown(run.spark)

    if args.trace:
        metrics = layers.report(per_layer)
    result = {
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
