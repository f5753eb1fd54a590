#!/usr/bin/env python3
"""Run a workload on several seeds and report each metric's median and its
run-to-run spread (distance between the first and third quartile as a share
of the median, as `statistics.quantiles(values, n=4)` gives the quartiles),
next to the bound BENCHMARK.json allows.

    python3 perfbench/spread.py --workload etl_month --seeds 1-10
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values = {}
    for seed in seeds(a.seeds):
        cmd = ["python3"] + bench["command"][1:] + [
            "--workload", a.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", str(a.trace)]
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        if p.returncode != 0 or not line:
            print(f"seed {seed}: exit {p.returncode}", flush=True)
            continue
        res = json.loads(line)
        print(f"seed {seed}: correct={res['correct']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, xs in values.items():
        if len(xs) < 2:
            continue
        q1, _, q3 = statistics.quantiles(xs, n=4)
        med = statistics.median(xs)
        spread = (q3 - q1) / med if med else float("nan")
        bound = bounds.get(k)
        print(f"{k:36s} median {med:12.5g}  spread {spread:6.3f}"
              + (f"  bound {bound}" if bound is not None else ""))


if __name__ == "__main__":
    sys.exit(main())
