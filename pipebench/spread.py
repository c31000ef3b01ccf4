#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 pipebench/spread.py <workload> <first-seed> <runs> [--out file]

Runs the workload untraced once per seed (first-seed, first-seed + 1, ...)
and prints, per end-to-end metric, the median and the distance between the
first and third quartile as a share of the median — the spread the
benchmark's bounds are checked against. --out appends each run's result
line to a file.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("workload")
    ap.add_argument("first_seed", type=int)
    ap.add_argument("runs", type=int)
    ap.add_argument("--out")
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    values = {m["name"]: [] for m in spec["end_to_end"]}
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for seed in range(a.first_seed, a.first_seed + a.runs):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", a.workload, "--seed", str(seed),
                            "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                           cwd=ROOT, capture_output=True, text=True)
        if r.returncode != 0:
            print(f"seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}", file=sys.stderr)
            return 1
        line = r.stdout.strip().splitlines()[-1]
        if a.out:
            with open(a.out, "a") as fh:
                fh.write(f"{a.workload} {seed} {line}\n")
        res = json.loads(line)
        for n in values:
            values[n].append(res["metrics"][n]["value"])
        print(f"seed {seed}: correct={res['correct']} " +
              " ".join(f"{n}={v[-1]:.4g}" for n, v in values.items()), file=sys.stderr)
    for n, v in values.items():
        q1, _, q3 = statistics.quantiles(v, n=4)
        med = statistics.median(v)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{a.workload} {n}: median {med:.4g} spread {spread:.3f} "
              f"(bound {bounds[n]}, {'ok' if spread <= bounds[n] / 3 else 'WIDE'})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
