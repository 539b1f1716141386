#!/usr/bin/env python3
"""Run the benchmark on several seeds and print each end-to-end metric's
median and spread (quartile distance as a share of the median), the
figure BENCHMARK.json's bounds are checked against.

    python3 perfbench/spread.py --workload serve --seeds 1 2 3 4 5 [--seconds 20]

Runs are sequential; each run's last two stdout lines are kept in
``.perfbench/spread-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--seconds", type=int, default=spec["run_seconds"])
    args = p.parse_args()

    out_path = os.path.join(ROOT, ".perfbench", f"spread-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    values: dict[str, list[float]] = {}
    with open(out_path, "a") as log:
        for seed in args.seeds:
            cmd = spec["command"] + ["--workload", args.workload, "--seed", str(seed),
                                     "--seconds", str(args.seconds), "--trace", "0"]
            res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            if res.returncode != 0:
                print(f"seed {seed}: exit {res.returncode}\n{res.stderr[-2000:]}", file=sys.stderr)
                return 1
            lines = res.stdout.strip().splitlines()
            last = json.loads(lines[-1])
            report = json.loads(lines[-2]) if len(lines) > 1 else None
            log.write(json.dumps({"seed": seed, **last, "report": report}) + "\n")
            print(f"seed {seed}: correct={last['correct']} failed={last['failed']}/"
                  f"{last['attempted']} " + " ".join(
                      f"{k}={v['value']:.4g}" for k, v in last["metrics"].items()), flush=True)
            for k, v in last["metrics"].items():
                values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for k, xs in values.items():
        med = statistics.median(xs)
        spread = float("nan")
        if len(xs) >= 2:
            q1, _, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
        print(f"{k}: median={med:.4g} spread={spread:.3f} bound={bounds.get(k)} "
              f"(target < {bounds.get(k, 0) / 3:.3f})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
