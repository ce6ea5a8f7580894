#!/usr/bin/env python3
"""Traced-run report: for each workload, one untraced and one traced run
with the same seed. Prints the layers ranked by their self time's share of
the traced run time, whether the self times add up to it within 10%, and
the tracing overhead (traced run_s minus untraced run_s).

    python3 perfbench/report.py [--seed N] [--seconds S] [--workloads a,b]

Spans of the traced run are kept in `.bench_build/spans-<workload>-<seed>.json`.
"""
import argparse
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout + p.stderr)
        sys.exit(f"{workload}: run failed")
    m = re.search(r"run_s median ([0-9.]+) s", p.stdout)
    return float(m.group(1)), p.stdout.splitlines()


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    args = ap.parse_args()
    for w in args.workloads.split(","):
        plain, _ = run(w, args.seed, args.seconds, 0)
        traced, lines = run(w, args.seed, args.seconds, 1)
        print(f"== {w} (seed {args.seed})")
        start = next(i for i, l in enumerate(lines) if l.startswith("traced run_s"))
        for line in lines[start:]:
            if not line.startswith("  ") and not line.startswith("traced"):
                break
            print(line)
        print(f"  tracing overhead: {traced - plain:+.3f} s "
              f"(traced run_s {traced:.3f} s, untraced {plain:.3f} s)")


if __name__ == "__main__":
    main()
