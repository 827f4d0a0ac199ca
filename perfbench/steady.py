#!/usr/bin/env python3
"""Steadiness check: runs the benchmark once per seed and reports, for
every metric, the median and the spread (interquartile range over the
median, computed with statistics.quantiles(values, n=4)), next to the
bound from BENCHMARK.json.

    python3 perfbench/steady.py --workload query_mix --seeds 1-10 [--trace 0]
"""
import sys

sys.dont_write_bytecode = True

import argparse
import json
import os
import statistics
import subprocess

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from accounting import spread  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="a range such as 1-10")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}
    values, failures = {}, 0
    for seed in seeds(args.seeds):
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]),
                                  "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}", flush=True)
            failures += 1
            continue
        result = json.loads(lines[-1])
        failures += 0 if result["correct"] else 1
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: correct={result['correct']} " + " ".join(
            f"{k}={m['value']:.4g}" for k, m in result["metrics"].items()), flush=True)
    for name, vs in values.items():
        s = spread(vs) if len(vs) >= 2 else float("nan")
        b = bounds.get(name)
        flag = "" if b is None else (" OK" if s < b / 3 else " OVER a third of bound")
        print(f"{name}: median={statistics.median(vs):.4g} spread={s:.4f} bound={b}{flag}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
