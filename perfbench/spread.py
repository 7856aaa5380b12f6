#!/usr/bin/env python3
"""Run the benchmark over distinct seeds and report, per workload and
end-to-end metric, the median and the quartile spread ((Q3 − Q1) ÷
median, quartiles as `statistics.quantiles(values, n=4)` gives them)
next to the metric's bound in BENCHMARK.json.

    python3 perfbench/spread.py --runs 10 [--first-seed 1] [--workload <name> ...]

Each run's result line is appended to `.bench_out/spread.jsonl`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append",
                    help="default: every workload in BENCHMARK.json")
    args = ap.parse_args()
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
    log = open(os.path.join(ROOT, ".bench_out", "spread.jsonl"), "a")
    ok = True
    for w in workloads:
        values = {}
        for seed in range(args.first_seed, args.first_seed + args.runs):
            t0 = time.time()
            proc = subprocess.run(
                [sys.executable, os.path.join(ROOT, spec["command"][1]), "--workload", w,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, text=True)
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
            log.write(json.dumps({"workload": w, "seed": seed, "rc": proc.returncode,
                                  "wall_s": time.time() - t0, "result": result}) + "\n")
            log.flush()
            if result is None or not result["correct"]:
                print(f"{w} seed {seed}: failed run (rc {proc.returncode})")
                ok = False
                continue
            for k, v in result["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        for k, vs in values.items():
            if len(vs) < 2:
                continue
            q1, _, q3 = statistics.quantiles(vs, n=4)
            med = statistics.median(vs)
            spread = (q3 - q1) / med if med else float("nan")
            bound = bounds.get(k)
            flag = "" if bound is None or spread < bound / 3 else "  <-- above a third of its bound"
            print(f"{w:18s} {k:18s} n={len(vs):2d} median={med:.4f} spread={spread:.4f} "
                  f"bound={bound}{flag}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
