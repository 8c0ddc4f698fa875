#!/usr/bin/env python3
"""Counter repeatability test: two traced runs of the same seed, at the small
scale and a fixed operation count, must report identical per-operation
`sources.commits`, `sources.files_written` and `driver.jobs` minus
`driver.pool_jobs`.

`driver.pool_jobs` (and so `driver.jobs`) legitimately varies: Spark's
adaptive execution submits query-stage and broadcast jobs from a pool, and
how many it submits depends on which concurrently running stage finishes
first (a join re-planned to a broadcast after one side's shuffle completed
skips the other side's stage). The test prints that variation but does not
fail on it.

    python3 perfbench/test_counters.py [--workloads ingest_files,corpus_stream]

By default it runs all four workloads.

Exits 0 when every exact counter repeats and every run's output checks
pass, 1 otherwise. Timings are not
compared.
"""
import argparse
import collections
import json
import re
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
EXACT = ("caller_jobs", "sources.commits", "sources.files_written")
SEED = 7
# every runnable workload, also those BENCHMARK.json does not list, so that
# none of them drifts from the library unexercised
WORKLOADS = ("ingest_files", "corpus_stream", "transform_bulk", "corpus_sync")
OPS = 16  # cycles 1 and 3 of the operation pattern are traced


def traced_counters(workload):
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
           "--seed", str(SEED), "--scale", "small", "--ops", str(OPS), "--trace", "1"]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    if r.returncode != 0:
        raise RuntimeError(f"{workload}: run exited {r.returncode}")
    run = json.loads((ROOT / ".bench_build" / "runs" /
                      f"{workload}-seed{SEED}-trace1.json").read_text())
    counters = []
    for s in run["samples"]:
        if s["traced"]:
            layer = dict(s["layer"], caller_jobs=s["layer"]["driver.jobs"] - s["layer"]["driver.pool_jobs"])
            counters.append((s["kind"], {c: layer.get(c) for c in EXACT},
                             layer["driver.pool_jobs"]))
    return counters, jobs_by_op(run["spans"])


def jobs_by_op(spans):
    """Per traced operation: multiset of its jobs' module and call site."""
    ops = [s for s in spans if s["kind"] == "op"]
    jobs = [s for s in spans if s["kind"] == "job"]
    return [collections.Counter(re.sub(r"^job \d+ ", "", j["name"]) for j in jobs
                                if o["start_ms"] <= j["start_ms"] <= o["end_ms"]) for o in ops]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(WORKLOADS))
    args = ap.parse_args()
    failed = False
    for w in args.workloads.split(","):
        (a, ja), (b, jb) = traced_counters(w), traced_counters(w)
        same = [x[:2] for x in a] == [x[:2] for x in b] and len(a) > 0
        failed |= not same
        print(f"{w}: {'PASS' if same else 'FAIL'} ({len(a)} traced operations)")
        for (ka, ca, pa), (kb, cb, pb), xa, xb in zip(a, b, ja, jb):
            mark = "" if ca == cb else "   <-- differs"
            print(f"  {ka:10s} {ca} | {cb}{mark}  (pool jobs {pa:g} | {pb:g})")
            if xa != xb:
                print(f"      jobs only in run 1: {dict(xa - xb)}; only in run 2: {dict(xb - xa)}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
