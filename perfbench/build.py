#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library (src/main/scala) and the
benchmark driver (perfbench/src) with scalac into .bench_build/classes.

The Spark jars are the ones the library's own build uses: the directory named
by `unmanagedBase` in build.sbt (or SPARK_JARS_DIR when set). scalac ships in
that directory, so no dependency resolution happens. A build is skipped when
the sources are unchanged since the last one (content hash stamp).

Usage: python3 perfbench/build.py        # prints the classpath on success
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
OUT = ROOT / ".bench_build"


class BuildError(Exception):
    pass


def jars_dir():
    env = os.environ.get("SPARK_JARS_DIR")
    if env:
        d = Path(env)
    else:
        sbt = ROOT / "build.sbt"
        if not sbt.is_file():
            raise BuildError("build.sbt not found: no library to build")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if not m:
            raise BuildError("build.sbt declares no unmanagedBase jar directory")
        d = Path(m.group(1))
    if not any(d.glob("scala-compiler-*.jar")) or not any(d.glob("spark-sql_*.jar")):
        raise BuildError(f"{d} holds no scala-compiler / spark-sql jars")
    return d


def sources():
    lib = ROOT / "src" / "main" / "scala"
    if not lib.is_dir():
        raise BuildError("src/main/scala not found: no library to build")
    srcs = sorted(lib.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    if not srcs:
        raise BuildError("no Scala sources")
    return srcs


def stamp_of(srcs):
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile when needed; return the run classpath."""
    jars = jars_dir()
    srcs = sources()
    classes = OUT / "classes"
    stamp_file = OUT / "classes.stamp"
    stamp = stamp_of(srcs)
    cp = f"{classes}{os.pathsep}{jars}/*"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp
    OUT.mkdir(exist_ok=True)
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    print(f"build: compiling {len(srcs)} Scala files", file=log, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", f"{jars}/*", f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return cp


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
