#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's metrics.

Runs one workload once per seed and prints, per metric, the median and
the interquartile range as a share of the median (statistics.quantiles,
n=4), next to the metric's bound from BENCHMARK.json. A spread under a
third of the bound is the steadiness target.

usage: python3 perfbench/spread.py WORKLOAD [--seeds 1-10] [--trace 0|1] [--out FILE]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    p = argparse.ArgumentParser()
    p.add_argument("workload")
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", default="0")
    p.add_argument("--out", help="append each run's result line to this file")
    a = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}
    values = {}
    for seed in seeds_of(a.seeds):
        t0 = time.time()
        r = subprocess.run(bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                           "--seconds", str(bench["run_seconds"]), "--trace", a.trace],
                           cwd=ROOT, capture_output=True, text=True)
        wall = time.time() - t0
        if r.returncode != 0:
            sys.stderr.write(r.stderr[-3000:])
            print("seed %d: exit %d" % (seed, r.returncode))
            return 1
        line = r.stdout.strip().split("\n")[-1]
        res = json.loads(line)
        if a.out:
            with open(a.out, "a") as f:
                f.write(json.dumps({"workload": a.workload, "seed": seed, "wall_s": wall, **res}) + "\n")
        print("seed %d: %.1f s wall, correct=%s attempted=%d failed=%d" %
              (seed, wall, res["correct"], res["attempted"], res["failed"]), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        ops = [float(x) for l in r.stdout.split("\n") if l.strip().startswith("op times:")
               for x in l.split(":", 1)[1].split()]
        if ops:
            ops.sort()
            values.setdefault("op_min (report)", []).append(ops[0])
            values.setdefault("op_p25 (report)", []).append(ops[(len(ops) - 1) // 4])
    for k, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2:
            q = statistics.quantiles(vs, n=4)
            spread = (q[2] - q[0]) / med if med else float("nan")
        else:
            spread = float("nan")
        b = bounds.get(k)
        flag = "" if b is None or not spread == spread or spread < b / 3 else "  <-- above bound/3"
        print("%-26s median %14.4f  iqr/median %.4f  bound %s%s" % (k, med, spread, b, flag))
    return 0


if __name__ == "__main__":
    sys.exit(main())
