"""Repeat the benchmark and report how steady each metric is.

    python3 perfbench/steadiness.py [--workload W ...] [--runs N]
        [--first-seed S] [--trace 0|1] [--out results.jsonl]

Run from the root of a checkout. Each workload runs N times, one fresh
process per run, each with its own seed. For every metric it prints the
median, the first and third quartiles (statistics.quantiles, n=4) and
the spread (q3 - q1) / median next to the metric's bound from
BENCHMARK.json. A run that fails or reports wrong results is listed, not
dropped.
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


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", action="append",
                   choices=[w["name"] for w in bench["workloads"]])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", help="append every run's result line here")
    args = p.parse_args()
    bounds = {m["name"]: m.get("bound") for m in
              bench["per_layer" if args.trace else "end_to_end"]}
    worst, worst_at = 0.0, ""
    for wl in args.workload or [w["name"] for w in bench["workloads"]]:
        values: dict[str, list[float]] = {}
        for i in range(args.runs):
            seed = args.first_seed + i
            cmd = bench["command"] + [
                "--workload", wl, "--seed", str(seed),
                "--seconds", str(bench["run_seconds"]),
                "--trace", str(args.trace)]
            t0 = time.perf_counter()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True,
                                  text=True, timeout=200)
            took = time.perf_counter() - t0
            lines = proc.stdout.strip().splitlines()
            try:
                res = json.loads(lines[-1])
            except (IndexError, json.JSONDecodeError):
                print(f"{wl} seed {seed}: exit {proc.returncode}, no result"
                      f"\n{proc.stderr[-2000:]}", flush=True)
                continue
            print(f"{wl} seed {seed}: {took:.1f} s, correct={res['correct']}"
                  f" failed={res['failed']}/{res['attempted']} " + " ".join(
                      f"{k}={v['value']:.4g}"
                      for k, v in res["metrics"].items()), flush=True)
            if args.out:
                with open(args.out, "a") as f:
                    detail = next((ln[len("# detail "):] for ln in lines
                                   if ln.startswith("# detail ")), "null")
                    f.write(json.dumps({"workload": wl, "seed": seed,
                                        "wall_s": took, **res,
                                        "detail": json.loads(detail)})
                            + "\n")
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        for k, xs in values.items():
            if len(xs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            bound = bounds.get(k)
            if bound and spread / bound > worst:
                worst, worst_at = spread / bound, f"{wl} {k}"
            print(f"  {wl:8s} {k:28s} n={len(xs):2d} median={med:.5g} "
                  f"q1={q1:.5g} q3={q3:.5g} spread={spread:.3f}"
                  + (f" bound={bound} ({spread / bound:.2f} of it)"
                     if bound else ""), flush=True)
    if not args.trace:
        print(f"largest spread as a share of its bound: {worst:.2f} "
              f"({worst_at})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
