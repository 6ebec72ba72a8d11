#!/usr/bin/env python3
"""Run one workload once per seed and summarise each metric's spread.

    python3 perfbench/repeat.py --workload scan_mix --seeds 1-10 --seconds 20 \\
        --out perfbench/baseline/scan_mix.json

For every metric of the final JSON line it reports the values, the median,
the first and third quartiles (statistics.quantiles(values, n=4)) and the
spread (q3 - q1) / median. A failed run or a wrong answer stops the series.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"values": values, "median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()

    runs = []
    for seed in seeds(args.seeds):
        proc = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                               "--workload", args.workload, "--seed", str(seed),
                               "--seconds", str(args.seconds), "--trace", str(args.trace)],
                              stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.splitlines()
        if proc.returncode != 0 or not lines:
            sys.exit(f"seed {seed}: run failed with code {proc.returncode}")
        result = json.loads(lines[-1])
        if not result["correct"]:
            sys.exit(f"seed {seed}: wrong answers ({result['failed']} of {result['attempted']})")
        runs.append({"seed": seed, "report": lines[:-1], "result": result})
        print(f"seed {seed}: " + ", ".join(
            f"{k} {v['value']:.4f}" for k, v in sorted(result["metrics"].items())), flush=True)

    names = sorted(runs[0]["result"]["metrics"])
    metrics = {n: dict(unit=runs[0]["result"]["metrics"][n]["unit"],
                       **summary([r["result"]["metrics"][n]["value"] for r in runs]))
               for n in names}
    for n, m in metrics.items():
        print(f"{n}: median {m['median']:.4f} {m['unit']}, q1 {m['q1']:.4f}, "
              f"q3 {m['q3']:.4f}, spread {m['spread']:.4f}")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"workload": args.workload, "seconds": args.seconds,
                       "trace": args.trace, "metrics": metrics, "runs": runs}, fh, indent=1)


if __name__ == "__main__":
    main()
