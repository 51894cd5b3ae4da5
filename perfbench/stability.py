#!/usr/bin/env python3
"""Check the benchmark's run-to-run spread.

    python3 perfbench/stability.py --workload <name> [--seeds 1-10] [--trace 0]

Runs perfbench/run.py once per seed, then prints for every metric its
median, quartiles and spread (the distance between the first and third
quartile, as `statistics.quantiles(values, n=4)` gives them, over the
median) next to the metric's bound from BENCHMARK.json, and the wall time
of each run. Run from the root of a graft checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"] + spec["per_layer"]}
    values, walls = {}, []
    for s in seeds(a.seeds):
        t0 = time.time()
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(s), "--seconds", str(spec["run_seconds"]),
                            "--trace", a.trace], cwd=ROOT, capture_output=True, text=True)
        walls.append(time.time() - t0)
        if r.returncode != 0:
            print(f"seed {s}: exit {r.returncode}\n{r.stderr}", file=sys.stderr)
            sys.exit(1)
        res = json.loads(r.stdout.strip().splitlines()[-1])
        print(f"seed {s}: {walls[-1]:.1f} s correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']} "
              + " ".join(f"{k}={v['value']:.6g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"\n{a.workload}: {len(walls)} runs, wall median {statistics.median(walls):.1f} s, "
          f"max {max(walls):.1f} s")
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0], 0, vs[0])
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(k)
        flag = "" if b is None else ("  ok" if spread < b / 3 else "  WIDE")
        print(f"  {k:36s} median {med:12.6g}  q1 {q1:12.6g}  q3 {q3:12.6g}  "
              f"spread {spread:7.4f}" + ("" if b is None else f"  bound {b}") + flag)


if __name__ == "__main__":
    main()
