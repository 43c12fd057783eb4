#!/usr/bin/env python3
"""Record the cold-to-steady curve of each workload and derive the
warm-up count that run.py uses (run.py also sizes its steady calls from
the tail of these curves).

    python3 perfbench/curve.py [--calls 10] [--seeds 101 102]

For every workload and seed, a fresh process makes ``--calls`` calls
back to back (same set-up as run.py, checks on).  The new curves are
added to those already in perfbench/warmup.json.  For each curve, the
steady level is the median of the last third of the calls, and the
curve's warm-up count is the number of calls before the first call from
which every later call stays within ``TOLERANCE`` of that level.  A
workload's warm-up count is the median of its curves' counts, rounded
up: on a shared host one curve recorded under load would otherwise set
it alone.  At this table size the calls keep speeding up for dozens of
calls (JIT tiering of the generated code), so "steady" here means the
tail of the curve that a run can afford, not a flat plateau.  Writes perfbench/warmup.json with the curves it came from.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
TOLERANCE = 0.2


def one_curve(workload: str, seed: int, calls: int) -> list[float]:
    """Child process: set up, make ``calls`` calls, print their times."""
    import run
    import workloads

    if not run.prepare_env():
        raise SystemExit(2)
    w = workloads.make(workload, seed, os.path.join(run.WORK, "w"))
    spark, _ = run.setup(w)
    make = run.Calls(w, [])
    walls = [make("curve") for _ in range(calls)]
    spark.stop()
    run.stop_jvm()
    shutil.rmtree(run.WORK, ignore_errors=True)
    return walls


def warmup(walls: list[float]) -> int:
    steady = statistics.median(walls[-max(1, len(walls) // 3):])
    for k in range(len(walls)):
        if all(abs(x / steady - 1) <= TOLERANCE for x in walls[k:]):
            return max(k, 1)
    return len(walls) // 2


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--calls", type=int, default=10)
    p.add_argument("--seeds", type=int, nargs="+", default=[101, 102])
    p.add_argument("--child", nargs=2, metavar=("WORKLOAD", "SEED"))
    args = p.parse_args()
    if args.child:
        walls = one_curve(args.child[0], int(args.child[1]), args.calls)
        print(json.dumps(walls))
        return 0

    from run import WORKLOADS

    path = os.path.join(HERE, "warmup.json")
    curves: dict[str, dict[str, list[float]]] = {}
    if os.path.exists(path):
        with open(path) as f:
            curves = json.load(f)["curves_s"]
    for workload in WORKLOADS:
        for seed in args.seeds:
            out = subprocess.run(
                [sys.executable, __file__, "--calls", str(args.calls),
                 "--child", workload, str(seed)],
                check=True, stdout=subprocess.PIPE, text=True).stdout
            curves.setdefault(workload, {})[str(seed)] = json.loads(out.splitlines()[-1])
            print(workload, seed, curves[workload][str(seed)], file=sys.stderr)
    result = {
        "warmup_calls": {
            w: math.ceil(statistics.median(warmup(c) for c in cs.values()))
            for w, cs in curves.items()},
        "tolerance": TOLERANCE,
        "curves_s": curves,
    }
    with open(path, "w") as f:
        json.dump(result, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
