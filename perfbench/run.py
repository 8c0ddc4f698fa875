#!/usr/bin/env python3
"""Benchmark command: build the library, run one workload for one seed, and
print the result as the last line of stdout.

    python3 perfbench/run.py --workload ingest_files --seed 1 --seconds 15 --trace 0

Workloads: ingest_files, transform_bulk, corpus_stream, corpus_sync (see
BENCHMARK.json and perfbench/README.md). The benchmark runs in one JVM on
local[nproc]; its inputs are generated from --seed. With --trace 0 the result
carries the end-to-end metrics, with --trace 1 the per-layer ones. Each run
also writes .bench_build/runs/<workload>-seed<n>-trace<t>.json with every
sample and, when traced, every span. Exits non-zero, after printing a result
with "correct": false, when an output check fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
OUT = build.OUT
BENCH_JSON = ROOT / "BENCHMARK.json"
HARD_LIMIT_S = 170  # the whole command must end within 180 s after the build

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def metric_names():
    spec = json.loads(BENCH_JSON.read_text())
    return ([(m["name"], m["unit"]) for m in spec["end_to_end"]],
            [(m["name"], m["unit"]) for m in spec["per_layer"]])


def run_jvm(cp, args, work, out, budget_s):
    # a fixed heap and young generation keep the process high-water mark
    # from following G1's adaptive sizing
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xmn512m", "-Xss4m", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", str(out),
            "--work", str(work), "--scale", args.scale, "--ops", str(args.ops)]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    log_path = out / f"{args.workload}-seed{args.seed}-trace{args.trace}.log"
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, cwd=ROOT)
        lines = []
        reader = threading.Thread(target=lambda: lines.extend(proc.stdout), daemon=True)
        reader.start()
        deadline = time.monotonic() + budget_s
        while True:
            pid, status, rusage = os.wait4(proc.pid, os.WNOHANG)
            if pid:
                break
            if time.monotonic() > deadline:
                proc.kill()
                _, _, rusage = os.wait4(proc.pid, 0)
                status = None
                break
            time.sleep(0.1)
        proc.returncode = 0  # reaped above
        reader.join(10)
    result = None
    for line in lines:
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
    code = os.waitstatus_to_exitcode(status) if status is not None else -9
    return result, code, rusage.ru_maxrss / 1024.0, log_path


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "small"), default="full",
                    help="small: tiny inputs, for the counter repeatability test")
    ap.add_argument("--ops", type=int, default=0,
                    help="run exactly this many timed operations instead of --seconds")
    args = ap.parse_args()

    try:
        e2e, per_layer = metric_names()
        cp = build.build()
    except (build.BuildError, OSError, ValueError, KeyError) as e:
        print(f"perfbench: cannot build: {e}", file=sys.stderr)
        return 2

    t_start = time.monotonic()
    work = OUT / "work" / f"{args.workload}-seed{args.seed}-trace{args.trace}"
    out = OUT / "runs"
    shutil.rmtree(work, ignore_errors=True)
    out.mkdir(parents=True, exist_ok=True)
    try:
        result, code, rss_mb, log_path = run_jvm(cp, args, work, out, HARD_LIMIT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if result is None or code != 0:
        tail = log_path.read_text()[-3000:] if log_path.exists() else ""
        print(f"perfbench: driver exited {code} without a result\n{tail}", file=sys.stderr)
        return 3

    values = dict(result["end_to_end"])
    values["peak_rss_mb"] = rss_mb
    values.update(result["per_layer"])
    wanted = per_layer if args.trace else e2e
    metrics = {}
    for name, unit in wanted:
        v = values.get(name)
        if v is None:
            if args.trace:
                v = 0.0  # a layer the workload does not touch
            else:
                print(f"perfbench: metric {name} not measured", file=sys.stderr)
                result["correct"] = False
                v = 0.0
        metrics[name] = {"value": v, "unit": unit}
    for msg in result.get("failures", []):
        print(f"perfbench: FAIL {msg}", file=sys.stderr)
    print(f"context: {json.dumps(result['context'])}")
    print(f"aliases: {json.dumps(result['aliases'])}")
    print(f"wall_s: {time.monotonic() - t_start:.1f}")
    print(json.dumps({"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]), "metrics": metrics}))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
