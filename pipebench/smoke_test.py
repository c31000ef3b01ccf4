#!/usr/bin/env python3
"""Smoke test of the pipeline benchmark at tiny sizes.

    python3 pipebench/smoke_test.py        # from the checkout root

For every workload, untraced and traced: the run exits 0, its last stdout
line is the result object, every output check passes, and the printed
metric names and units equal those BENCHMARK.json lists (end_to_end
untraced, per_layer traced). The omicidx_build run also checks the lake
generator against the model lint. Finally, a directory holding only
BENCHMARK.json and the benchmark's files must make the run fail without
printing a result.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["omicidx_build", "omicidx_daily", "curation", "corpus_queries"]


def run(cwd, workload, trace):
    cmd = [sys.executable, os.path.join("pipebench", "run.py"), "--workload", workload,
           "--seed", "5", "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    problems = []
    for w in WORKLOADS:
        for trace in (0, 1):
            r = run(ROOT, w, trace)
            tag = f"{w} trace={trace}"
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or not lines:
                problems.append(f"{tag}: exit {r.returncode}\n{r.stderr[-3000:]}")
                continue
            res = json.loads(lines[-1])
            if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
                problems.append(f"{tag}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
                problems.append(f"{tag}: correct={res['correct']} failed={res['failed']}")
            got = {n: m["unit"] for n, m in res["metrics"].items()}
            if got != want[trace]:
                missing = sorted(set(want[trace]) - set(got))
                extra = sorted(set(got) - set(want[trace]))
                wrong = sorted(n for n in got if n in want[trace] and got[n] != want[trace][n])
                problems.append(f"{tag}: missing {missing} extra {extra} unit {wrong}")
            print(f"[smoke] {tag}: ok={not problems}", file=sys.stderr)

    # a checkout holding only BENCHMARK.json and the benchmark must fail
    bare = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_build"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "pipebench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        r = run(bare, WORKLOADS[0], 0)
        if r.returncode == 0 or r.stdout.strip():
            problems.append(f"bare checkout: exit {r.returncode}, stdout {r.stdout[-200:]!r}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    for p in problems:
        print(f"[smoke] FAIL {p}", file=sys.stderr)
    print(f"[smoke] {'FAILED' if problems else 'passed'}", file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
