#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program and the harness from
source on first use (sbt, see perfbench/build.sbt; outputs under
.bench_build/ and the sbt target directories), then runs one workload in
one JVM and prints the result as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (see perfbench/README.md). Exits non-zero, without a
result line, when the checkout holds no program to build.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("omrs_jdbc_full", "corpus_neardup")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (the set the program's
# build.sbt passes to forked JVMs, plus Spark's launcher defaults).
JVM_MODULE_FLAGS = ["-XX:+IgnoreUnrecognizedVMOptions",
                    "-Djdk.reflect.useDirectMethodHandle=false",
                    "-Dio.netty.tryReflectionSetAccessible=true"] + [
    flag for pkg in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar")
    for flag in ("--add-opens", pkg + "=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of everything the build reads, to skip rebuilding."""
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", ROOT / "project", HERE / "src" / "main",
             HERE / "project"]
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for r in roots:
        if r.is_dir():
            files += [p for p in r.rglob("*")
                      if p.is_file() and "target" not in p.relative_to(r).parts]
    for p in sorted(files):
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout and
    wait until every process of it has ended."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def build():
    """Compile program + harness with sbt; returns the run classpath."""
    cp_file = HERE / "target" / "run-classpath.txt"
    stamp_file = BUILD / "build.stamp"
    stamp = source_stamp()
    if (cp_file.is_file() and stamp_file.is_file()
            and stamp_file.read_text() == stamp):
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    sbt = shutil.which("sbt") or fail("sbt not found on PATH")
    with open(BUILD / "build.log", "wb") as log:
        rc = run_bounded([sbt, "-batch", "-Dsbt.offline=true",
                          "-Dsbt.log.noformat=true", "writeClasspath"],
                         BUILD_TIMEOUT_S,
                         cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                         stdout=log, stderr=subprocess.STDOUT)
    if rc != 0 or not cp_file.is_file():
        sys.stderr.write((BUILD / "build.log").read_text(errors="replace")[-4000:])
        fail(f"build failed (sbt exit {rc}); log in {BUILD / 'build.log'}")
    stamp_file.write_text(stamp)
    return cp_file.read_text().strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no program to benchmark under {ROOT} (build.sbt, src/main/scala)")
    classpath = build()

    cores = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    work = BUILD / "work" / run_id
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    result = work / "result.json"
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xmx3g", "-Xss4m", *JVM_MODULE_FLAGS,
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
           f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
           f"-Dderby.stream.error.file={work / 'derby.log'}",
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", args.trace,
           "--work", str(work), "--result", str(result)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    t0 = time.time()
    try:
        rc = run_bounded(cmd, RUN_TIMEOUT_S, cwd=work, env=env,
                         stdin=subprocess.DEVNULL, stdout=sys.stderr)
    except subprocess.TimeoutExpired:
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    if rc != 0 or not result.is_file():
        shutil.rmtree(work, ignore_errors=True)
        fail(f"benchmark JVM exited {rc} without a result")
    out = json.loads(result.read_text())
    spans = work / "spans.jsonl"
    if args.trace == "1" and spans.is_file():
        keep = BUILD / "spans"
        keep.mkdir(exist_ok=True)
        shutil.copy(spans, keep / f"{run_id}.jsonl")
    shutil.rmtree(work, ignore_errors=True)
    print(f"perfbench: {args.workload} seed {args.seed} trace {args.trace}: "
          f"{time.time() - t0:.1f} s wall", file=sys.stderr)
    for name, m in out["metrics"].items():
        print(f"{name} = {m['value']} {m['unit']}")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
