#!/usr/bin/env python3
"""Run one workload over several seeds and report how steady each metric is.

    python3 perfbench/steady.py --workload <name> --seeds 1-10 [--seconds 5] [--trace 0|1]

For each end-to-end metric it prints the median, the inter-quartile spread
as a share of the median (statistics.quantiles, n=4) and every value, plus
each run's wall time. With --trace 1 it runs every seed twice, untraced
and traced, and reports the tracing overhead: trace.pass_s / pass_s - 1.
"""
import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

import stats

HERE = Path(__file__).resolve().parent


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload, seed, seconds, trace):
    t0 = time.monotonic()
    out = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
                          "--seconds", str(seconds), "--trace", str(trace)],
                         cwd=HERE.parent, capture_output=True, text=True)
    wall = time.monotonic() - t0
    if out.returncode != 0:
        sys.exit(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
    res = json.loads(out.stdout.strip().splitlines()[-1])
    if not res["correct"]:
        print(f"seed {seed}: INCORRECT {res['failed']}/{res['attempted']}\n{out.stderr[-2000:]}")
    return res, wall


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    args = ap.parse_args()

    values, walls, overhead = {}, [], []
    for seed in seeds(args.seeds):
        res, wall = run(args.workload, seed, args.seconds, 0)
        walls.append(wall)
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        line = f"seed {seed}: {wall:.1f} s wall, " + \
            ", ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items())
        if args.trace:
            traced, twall = run(args.workload, seed, args.seconds, 1)
            walls.append(twall)
            overhead.append(traced["metrics"]["trace.pass_s"]["value"] / res["metrics"]["pass_s"]["value"] - 1)
            line += f"; traced {twall:.1f} s wall, overhead {overhead[-1]:+.1%}"
        print(line, flush=True)
    for k, vs in values.items():
        sp = stats.spread(vs) if len(vs) >= 2 else float("nan")
        print(f"{k:14s} median {stats.median(vs):.4g}  spread {sp:.3f}  values {[round(v, 4) for v in vs]}")
    print(f"run wall: median {stats.median(walls):.1f} s, max {max(walls):.1f} s, total {sum(walls):.0f} s")
    if overhead:
        print(f"tracing overhead: median {stats.median(overhead):+.1%}")


if __name__ == "__main__":
    main()
