#!/usr/bin/env python3
"""Run a workload once per seed and report each metric's run-to-run spread.

    python3 perfbench/spread.py --workload NAME --seeds 1-10 [--seconds S]
                                [--trace 0|1] [--log FILE]

`--seconds` defaults to BENCHMARK.json's `run_seconds`.

Prints, per metric, the median of the runs and the spread the benchmark's
bounds are checked against: (Q3 - Q1) / median, with the quartiles of
`statistics.quantiles(n=4)`. `--log` appends every result line as JSON.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import median, quartile_spread  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        run_seconds = str(json.load(fh)["run_seconds"])
    p.add_argument("--seconds", default=run_seconds)
    p.add_argument("--trace", default="0")
    p.add_argument("--log")
    a = p.parse_args()
    values, walls = {}, []
    for seed in seeds(a.seeds):
        t = time.monotonic()
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", a.seconds, "--trace", a.trace],
            stdout=subprocess.PIPE, text=True)
        walls.append(time.monotonic() - t)
        if r.returncode != 0:
            print(f"seed {seed}: exit {r.returncode}")
            continue
        res = json.loads(r.stdout.strip().splitlines()[-1])
        if a.log:
            with open(a.log, "a") as fh:
                fh.write(json.dumps({"workload": a.workload, "seed": seed,
                                     "wall_s": walls[-1], **res}) + "\n")
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']}/"
              f"{res['attempted']} wall={walls[-1]:.1f}s " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                       if not a.trace == "1"), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"{a.workload}: runs={len(walls)} wall median={median(walls):.1f}s")
    for k, xs in values.items():
        spread = quartile_spread(xs) if len(xs) >= 2 and median(xs) else float("nan")
        print(f"  {k:40s} median={median(xs):12.4f} spread={spread:.4f}")


if __name__ == "__main__":
    main()
