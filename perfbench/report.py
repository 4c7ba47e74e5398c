#!/usr/bin/env python3
"""Print every metric of every workload by name with its unit.

    python3 perfbench/report.py [--workload NAME ...] [--runs N] [--first-seed S] [--trace]

Runs the benchmark for each workload of BENCHMARK.json (or the named ones,
which may include workloads BENCHMARK.json does not list) once per seed,
seeds first-seed .. first-seed+N-1, with BENCHMARK.json's run_seconds.
Each run prints its metrics, failed_frac and whether every output was
verified. With more than one run, each end-to-end metric's median, its
run-to-run spread (interquartile distance as a share of the median) and
its bound follow. Exits 1 if any output was wrong.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from harness import stats  # noqa: E402


def run(workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(trace))],
        cwd=ROOT, check=True, stdout=subprocess.PIPE, text=True).stdout.strip().splitlines()
    return json.loads(out[-2])["detail"], json.loads(out[-1])


def main(argv):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append")
    ap.add_argument("--runs", type=int, default=1)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", action="store_true")
    a = ap.parse_args(argv)
    wrong = False
    for w in a.workload or [x["name"] for x in bench["workloads"]]:
        values = {}
        for seed in range(a.first_seed, a.first_seed + a.runs):
            detail, result = run(w, seed, bench["run_seconds"], a.trace)
            wrong |= not result["correct"]
            print(f"{w} seed {seed}: correct={result['correct']} "
                  f"failed_frac={detail['failed_frac']:.4g} "
                  f"({result['failed']} of {result['attempted']})")
            for k, v in result["metrics"].items():
                values.setdefault(k, []).append(v["value"])
                print(f"  {k:<36} {v['value']:>14.6g} {v['unit']}")
            if not result["correct"]:
                print(f"  failures: {detail['verify_failures']} {detail['query_errors']}")
            sys.stdout.flush()
        if a.runs > 1 and not a.trace:
            for m in bench["end_to_end"]:
                vs = values[m["name"]]
                print(f"{w} {m['name']:<16} median {stats.median(vs):.6g} {m['unit']:<5} "
                      f"spread {stats.spread(vs):.3f}  bound {m['bound']}")
    return 1 if wrong else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
