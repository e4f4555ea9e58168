"""Steadiness check: rerun one workload on several seeds and print each
end-to-end metric's spread against its bound from BENCHMARK.json.

    python3 perfbench/steady.py --workload serve --runs 10 --first-seed 1

The spread is the distance between the first and third quartile of the
runs' values (``statistics.quantiles(values, n=4)``) as a share of their
median. A metric is steady when its spread stays under a third of its
bound. Each run's wall time is printed too: a full benchmark must fit a
fixed time budget. Exits 1 when a run fails or a metric is not steady.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int) -> tuple[dict, float]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=900, check=False)
    wall = time.perf_counter() - t
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    return json.loads(lines[-1]), wall


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    values: dict[str, list[float]] = {name: [] for name in bounds}
    ok = True
    for seed in range(args.first_seed, args.first_seed + args.runs):
        res, wall = run_once(args.workload, seed, bench["run_seconds"])
        ok &= res["correct"] and res["failed"] == 0
        for name in bounds:
            values[name].append(res["metrics"][name]["value"])
        print(f"seed {seed}: wall={wall:.1f}s correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']} "
              + " ".join(f"{n}={values[n][-1]:.6g}" for n in bounds), flush=True)

    print(f"\n{'metric':<14}{'median':>12}{'q1':>12}{'q3':>12}"
          f"{'spread':>9}{'bound':>7}  verdict")
    for name, vals in values.items():
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med
        if spread < bounds[name] / 3:
            verdict = "steady"
        else:
            verdict = "NOT steady"
            ok = False
        print(f"{name:<14}{med:>12.6g}{q1:>12.6g}{q3:>12.6g}"
              f"{spread:>9.3f}{bounds[name]:>7.2f}  {verdict}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
