#!/usr/bin/env python3
"""Tracing overhead: run one workload untraced, then traced, with the same
seed, and print traced minus untraced for every end-to-end metric.

    python3 perfbench/overhead.py --workload online_score --seed 1 --seconds 15

Run it from the repository root.  The traced run's own end-to-end values
come from its report.json (`traced_end_to_end`).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

import run


def result(args, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(run.HERE, "run.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=run.ROOT, check=True, stdout=subprocess.PIPE, text=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=run.WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    args = p.parse_args()
    untraced = result(args, 0)["metrics"]
    result(args, 1)
    report = os.path.join(run.BUILD, "perfbench-trace", f"{args.workload}-seed{args.seed}", "report.json")
    with open(report) as f:
        traced = json.load(f)["traced_end_to_end"]
    rows = {}
    for name, m in untraced.items():
        diff = traced[name]["value"] - m["value"]
        rows[name] = {"untraced": m["value"], "traced": traced[name]["value"], "overhead": diff,
                      "overhead_share": diff / m["value"], "unit": m["unit"]}
        print(f"{name}: untraced {m['value']:.4g} {m['unit']}, traced {traced[name]['value']:.4g}, "
              f"overhead {diff:+.4g} ({diff / m['value']:+.1%})")
    print(json.dumps({"workload": args.workload, "seed": args.seed, "overhead": rows}))


if __name__ == "__main__":
    main()
