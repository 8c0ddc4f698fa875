#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's median and
quartile spread ((Q3 - Q1) / median, quartiles as statistics.quantiles(n=4)),
the steadiness measure the bounds in BENCHMARK.json are checked against.

    python3 perfbench/spread.py --workload ingest_files --seeds 1-10 [--trace 0]
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=int,
                    default=json.loads((ROOT / "BENCHMARK.json").read_text())["run_seconds"])
    args = ap.parse_args()
    values = {}
    for seed in seeds(args.seeds):
        cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else "{}"
        res = json.loads(last) if last.startswith("{") else {}
        ok = r.returncode == 0 and res.get("correct")
        print(f"seed {seed}: exit {r.returncode} correct {res.get('correct')} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res.get("metrics", {}).items()),
              flush=True)
        if not ok:
            continue
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, xs in values.items():
        med = statistics.median(xs)
        if len(xs) >= 2 and med:
            q1, _, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
        else:
            spread = float("nan")
        print(f"{k:32s} n={len(xs):2d} median={med:.4g} spread={spread:.3f}")


if __name__ == "__main__":
    main()
