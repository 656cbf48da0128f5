#!/usr/bin/env python3
"""Run every workload over several seeds, one run at a time, and print each
end-to-end metric's median and spread (quartile distance / median).

    python3 perfbench/sweep.py --seeds 1-10
    python3 perfbench/sweep.py --seeds 1-5 --workloads online_score --seconds 20

Run it from the repository root.  Each run's result line is appended to
.bench_build/perfbench-sweep/<start time>.jsonl.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

import run


def seed_list(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seeds", type=seed_list, required=True, help="e.g. 1-10 or 3,5,8")
    p.add_argument("--workloads", default=",".join(run.WORKLOAD_NAMES))
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        run_seconds = json.load(f)["run_seconds"]
    p.add_argument("--seconds", type=int, default=run_seconds, help="default: BENCHMARK.json's run_seconds")
    args = p.parse_args()
    out_dir = os.path.join(run.BUILD, "perfbench-sweep")
    os.makedirs(out_dir, exist_ok=True)
    out_path = os.path.join(out_dir, time.strftime("%Y%m%d-%H%M%S") + ".jsonl")
    failures = 0
    with open(out_path, "a") as out:
        for workload in args.workloads.split(","):
            values: dict[str, list[float]] = {}
            for seed in args.seeds:
                cmd = [sys.executable, os.path.join(run.HERE, "run.py"), "--workload", workload,
                       "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"]
                t = time.perf_counter()
                proc = subprocess.run(cmd, cwd=run.ROOT, stdout=subprocess.PIPE, text=True)
                wall = time.perf_counter() - t
                lines = proc.stdout.strip().splitlines()
                if proc.returncode != 0 or not lines:
                    failures += 1
                    print(f"{workload} seed {seed}: exit {proc.returncode}", flush=True)
                    continue
                result = json.loads(lines[-1])
                failures += not result["correct"]
                out.write(json.dumps({"workload": workload, "seed": seed, "wall_s": wall, **result}) + "\n")
                out.flush()
                shown = ", ".join(f"{k}={m['value']:.4g}" for k, m in result["metrics"].items())
                print(f"{workload} seed {seed}: wall {wall:.1f} s, correct={result['correct']}, "
                      f"failed {result['failed']}/{result['attempted']}, {shown}", flush=True)
                for k, m in result["metrics"].items():
                    values.setdefault(k, []).append(m["value"])
            for k, v in values.items():
                med = statistics.median(v)
                spread = 0.0
                if len(v) > 1:
                    q1, _, q3 = statistics.quantiles(v, n=4)
                    spread = (q3 - q1) / med
                print(f"  {workload} {k}: median {med:.4g}, spread {spread:.3f} over {len(v)} runs", flush=True)
    print(f"results: {out_path}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
