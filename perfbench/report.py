"""Per-layer table of one workload plus the tracing overhead.

    python3 perfbench/report.py --workload ps_train --seed 7 --seconds 12

Runs the benchmark twice with the same seed, untraced then traced, and
prints the traced run's per-layer metrics (layers the workload does not
reach are left out) and, for each end-to-end metric, the untraced value,
the traced value and their difference: the cost of tracing."""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def run(args, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, RUN, "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, check=True, stdout=subprocess.PIPE, text=True).stdout.splitlines()
    return json.loads(out[-2]), json.loads(out[-1])


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    args = ap.parse_args(argv)

    plain_stamp, plain = run(args, 0)
    traced_stamp, traced = run(args, 1)
    print(f"{args.workload} seed {args.seed}: correct {plain['correct']}/{traced['correct']}")
    print(f"\n{'per-layer metric':45s} {'value':>14s}  unit")
    for name, m in traced["metrics"].items():
        if m["value"]:
            print(f"{name:45s} {m['value']:14.2f}  {m['unit']}")
    print(f"\n{'end-to-end metric':20s} {'untraced':>12s} {'traced':>12s} {'overhead':>9s}")
    for name, v in plain_stamp["end_to_end"].items():
        t = traced_stamp["end_to_end"][name]
        print(f"{name:20s} {v:12.2f} {t:12.2f} {(t - v) / v:+9.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
