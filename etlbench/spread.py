"""Run the benchmark over several seeds and report each end-to-end
metric's median and quartile spread (Q3 - Q1, as a share of the median),
next to the bound declared in BENCHMARK.json.

    python3 etlbench/spread.py --workload query_mix --seeds 1 2 3 4 5

Runs one after another (concurrent runs distort each other); each run's
result line is kept under the work dir's ``spread/`` folder.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values: list[float]) -> tuple[float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), (q3 - q1) / statistics.median(values)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    out_dir = os.path.join(HERE, ".work", "spread")
    os.makedirs(out_dir, exist_ok=True)
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0",
        ]
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: run failed (exit {p.returncode})", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        with open(os.path.join(out_dir, f"{args.workload}-{seed}.out"), "w") as f:
            f.write(p.stdout)
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']} "
              + " ".join(f"{k}={v['value']:.4f}" for k, v in res["metrics"].items()), flush=True)
        if not res["correct"] or res["failed"]:
            return 1
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for k, vs in values.items():
        med, sp = spread(vs)
        print(f"{args.workload} {k}: median={med:.4f} spread={sp:.4f} bound={bounds.get(k)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
