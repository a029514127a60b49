"""Per-layer report: runs one workload untraced and then traced with the
same seed, and prints each layer's self time and Spark work from the
traced run, plus the tracing overhead (the difference in CPU seconds
per operation between the two runs).

    python3 perfbench/report.py --workload NAME [--seed N] [--seconds S]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()

    plain = run(args.workload, args.seed, args.seconds, 0)
    traced = run(args.workload, args.seed, args.seconds, 1)
    with open(os.path.join(ROOT, ".perfbench", "spans", f"{args.workload}-{args.seed}.json")) as fh:
        spans = json.load(fh)
    m = {k: v["value"] for k, v in traced["metrics"].items()}
    layers = sorted(
        {k.rsplit(".", 1)[0] for k in m if k.endswith(".busy_s")},
        key=lambda layer: -m[f"{layer}.busy_s"],
    )
    print(f"{'layer':24s} {'self_s':>9s} {'calls':>6s} {'jobs':>6s} {'tasks':>7s} {'failed':>6s}")
    for layer in layers:
        if m[f"{layer}.calls"]:
            print(
                f"{layer:24s} {m[f'{layer}.busy_s']:9.3f} {m[f'{layer}.calls']:6.0f} "
                f"{m[f'{layer}.spark_jobs']:6.0f} {m[f'{layer}.spark_tasks']:7.0f} "
                f"{m[f'{layer}.failed_tasks']:6.0f}"
            )
    untraced = plain["metrics"]["op_cpu_s"]["value"]
    print(
        f"\nCPU s per op untraced {untraced:.4g}, traced {spans['op_cpu_s']:.4g} "
        f"-> tracing overhead {spans['op_cpu_s'] / untraced - 1:+.1%} "
        f"(wrapper bookkeeping {m['trace.overhead_s']:.3f} s over {m['trace.spans']:.0f} spans)"
    )


if __name__ == "__main__":
    main()
