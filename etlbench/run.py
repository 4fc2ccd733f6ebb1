#!/usr/bin/env python3
"""Benchmark for the incremental ETL job and the MinHash index.

Usage (from the repository root):
    python3 etlbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the repository and the benchmark from source with sbt (once per
source state; later runs reuse the build), runs one workload in a fresh
JVM, and prints as its last stdout line one JSON object with the keys
correct, attempted, failed and metrics. See BENCHMARK.json for the
workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, "target")
WORKLOADS = ("jdbc_deltas", "parquet_backfill", "minhash_index")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# Each scheduled run of the ETL job starts a fresh JVM and ends long before
# C2 compilation of the Spark planner settles: under tiered JIT its op times
# keep falling for 20+ ops and land 1.2-1.8 s from run to run. C1 alone is
# what such a short-lived driver mostly runs, and it is flat after 2-3 ops.
# The index workload is kernel-bound and settles under the default JIT.
JIT = {"jdbc_deltas": ["-XX:TieredStopAtLevel=1"], "parquet_backfill": [], "minhash_index": []}
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# A run's counts that must repeat exactly for one seed and one source state.
REPEATED = ("files_per_op", "bytes_per_row", "driver.jobs_per_table",
            "index.ingest_jobs", "index.pairs_per_op")


def fail(msg):
    print(f"etlbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties"), os.path.join(BENCH, "src", "main")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(os.path.expanduser("~/.sbt/repositories")):
            opts.insert(0, "-Dsbt.override.build.repos=true")
        env["SBT_OPTS"] = " ".join(opts)
    return env


def run_child(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} timed out after {timeout} s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out, err


def classpath(stamp):
    """The benchmark's runtime classpath, building first if the sources changed."""
    cp_file = os.path.join(BUILD, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    rc, out, err = run_child(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True)
    lines = [ln for ln in out.splitlines() if ln and not ln.startswith("[")]
    if rc != 0 or not lines:
        sys.stderr.write(out[-4000:] + err[-4000:])
        fail(f"build failed (sbt exit {rc})")
    cp = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    return cp


def check_repeats(args, stamp, metrics):
    """Errors when a count differs from an earlier run of the same seed."""
    path = os.path.join(BUILD, "counts", f"{args.workload}-{args.seed}-{args.trace}.json")
    counts = {k: metrics[k]["value"] for k in REPEATED if k in metrics}
    if os.path.exists(path):
        with open(path) as f:
            old = json.load(f)
        if old.get("stamp") == stamp:
            return [f"{k} was {old['counts'][k]}, now {v}" for k, v in counts.items()
                    if k in old["counts"] and old["counts"][k] != v]
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"stamp": stamp, "counts": counts}, f)
    return []


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no repository sources next to the benchmark (looked in {ROOT})")

    stamp = source_stamp()
    cp = classpath(stamp)
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = ["java", "-Xms2g", "-Xmx2g", *JIT[args.workload], "-XX:ReservedCodeCacheSize=512m", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
            "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd = java + ["-cp", cp, "etlbench.Main", "--workload", args.workload, "--seed", str(args.seed),
                  "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work]
    try:
        rc, out, err = run_child(cmd, RUN_TIMEOUT_S, cwd=work, stdout=subprocess.PIPE,
                                 stderr=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = None
    for line in out.splitlines():
        if line.startswith("RESULT "):
            result = json.loads(line[len("RESULT "):])
        else:
            print(line)
    if rc != 0 or result is None:
        sys.stderr.write(err[-6000:])
        fail(f"workload run failed (java exit {rc})")
    for e in check_repeats(args, stamp, result["metrics"]):
        print(f"ERROR count did not repeat for seed {args.seed}: {e}")
        result["correct"] = False
        result["failed"] = max(result["failed"], 1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
