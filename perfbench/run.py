#!/usr/bin/env python3
"""Runs one workload of the engine benchmark and prints its result.

    python3 perfbench/run.py --workload build|serve|update|etl \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the engine and the
benchmark with sbt (offline) and records the runtime classpath; later runs
reuse it while the sources are unchanged. Each run starts its own JVM,
works in a scratch directory under the checkout that it deletes on exit,
and prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 1 the metrics are the per-layer ones and the spans are kept in
.bench_trace/. The etl workload's output files are compared with DuckDB by
scripts/compare_oracle.py.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("build", "serve", "update", "etl")
# limits: a run ends within 180 s, and a first run with its build within 900 s
BUILD_LIMIT_S = 600
RUN_LIMIT_S = 150          # the benchmark JVM
ORACLE_LIMIT_S = 20        # the DuckDB comparison after an etl run
ETL_TABLES = "sf0.01"      # etl input tables, under the test-data root
WARM_TABLES = "sf0.001"    # the same tables, smaller: the etl warm-up reads them
ETL_QUERIES = 42


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def source_stamp(root):
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = ["build.sbt", "project/build.properties",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    for base in ("src/main", "perfbench/src/main"):
        files += sorted(glob.glob(os.path.join(base, "**", "*"), recursive=True))
    for f in files:
        p = os.path.join(root, f)
        if os.path.isfile(p):
            h.update(f.encode() + b"\0")
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(root):
    """Compile once per source state; returns (classpath, jvm options)."""
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                       "perfbench")
    stamp = source_stamp(root)
    stamp_file = os.path.join(out, "stamp")
    if not (os.path.isfile(stamp_file) and open(stamp_file).read() == stamp):
        os.makedirs(out, exist_ok=True)
        log("compiling (first run in this checkout)")
        t0 = time.time()
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dperfbench.out=" + out, "benchExport"],
            cwd=os.path.join(root, "perfbench"), env=sbt_env(),
            stdin=subprocess.DEVNULL, stdout=sys.stderr, stderr=sys.stderr,
            start_new_session=True)
        wait(proc, BUILD_LIMIT_S, "sbt")
        if proc.returncode != 0:
            sys.exit("perfbench: build failed")
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
        log("compiled in %.1f s" % (time.time() - t0))
    cp = open(os.path.join(out, "classpath")).read().strip()
    opts = open(os.path.join(out, "jvm-options")).read().split()
    return cp, opts


def heap():
    """Heap from MemTotal, as the tier-1 command sets SPARK_DRIVER_MEM:
    half the memory in GiB, clamped to 2..8."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
                    return "%dg" % min(8, max(2, g))
    except OSError:
        pass
    return "2g"


CHILDREN = []


def wait(proc, limit, what):
    CHILDREN.append(proc)
    try:
        proc.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        log("%s exceeded %d s; stopping it" % (what, limit))
        stop(proc)
        sys.exit("perfbench: %s timed out" % what)
    finally:
        CHILDREN.remove(proc)


def stop(proc):
    if proc.poll() is None:
        try:
            os.killpg(proc.pid, signal.SIGTERM)
            proc.wait(timeout=15)
        except (subprocess.TimeoutExpired, ProcessLookupError):
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()


def on_signal(signum, _frame):
    raise SystemExit("perfbench: stopped by signal %d" % signum)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    needed = ["build.sbt", "src/main/scala/graft/SparkEntry.scala",
              "scripts/compare_oracle.py", "perfbench/build.sbt"]
    missing = [f for f in needed if not os.path.isfile(os.path.join(root, f))]
    if missing:
        sys.exit("perfbench: run from the root of an engine checkout; "
                 "missing " + ", ".join(missing))
    data = os.environ.get("GRAFT_TESTDATA", os.path.expanduser("~/testdata"))
    tables = os.path.join(data, ETL_TABLES)
    warm_tables = os.path.join(data, WARM_TABLES)
    if a.workload == "etl" and not (os.path.isdir(tables) and os.path.isdir(warm_tables)):
        sys.exit("perfbench: etl input tables not found under " + data +
                 " (set GRAFT_TESTDATA)")

    signal.signal(signal.SIGTERM, on_signal)
    work = os.path.join(root, ".bench_work", "%s-%d" % (a.workload, os.getpid()))
    trace_dir = os.path.join(root, ".bench_trace")
    try:
        cp, jvm_opts = build(root)
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        os.makedirs(trace_dir, exist_ok=True)
        result_file = os.path.join(work, "result.json")
        spans = os.path.join(trace_dir, "%s-seed%d.json" % (a.workload, a.seed))
        mem = heap()
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        cmd = (["java", "-Xmx" + mem, "-Xms" + mem, "-Djava.io.tmpdir=" + tmp] + jvm_opts +
               ["-cp", cp, "perfbench.Main", a.workload, str(a.seed),
                str(a.seconds), str(a.trace), os.path.join(work, "w"),
                result_file, spans, tables, warm_tables])
        t0 = time.time()
        proc = subprocess.Popen(cmd, cwd=root, stdin=subprocess.DEVNULL,
                                stdout=sys.stderr, stderr=sys.stderr,
                                start_new_session=True)
        wait(proc, RUN_LIMIT_S, "the benchmark JVM")
        if proc.returncode != 0 or not os.path.isfile(result_file):
            sys.exit("perfbench: the benchmark JVM failed (exit %s)" % proc.returncode)
        with open(result_file) as fh:
            res = json.load(fh)
        for p in res.get("problems", []):
            log("check failed:", p)
        correct = res["correct"]
        if a.workload == "etl":
            correct = oracle(root, tables, os.path.join(work, "w", "etl-out"),
                             ETL_QUERIES) and correct
        log("JVM run %.1f s" % (time.time() - t0))
        metrics = res["metrics"]
        bad = [k for k, v in metrics.items() if v["value"] is None]
        if bad:
            sys.exit("perfbench: no value for " + ", ".join(bad))
        print(json.dumps({"correct": bool(correct), "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}))
        sys.stdout.flush()
        return 0 if correct else 1
    finally:
        for proc in list(CHILDREN):
            stop(proc)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def oracle(root, tables, out, expected):
    """The files the timed sweep wrote against DuckDB's answer to
    SparkEntry.oracleSql, through the repository's own comparison; true
    when all `expected` queries compare equal."""
    proc = subprocess.Popen(
        [sys.executable, os.path.join(root, "scripts", "compare_oracle.py"),
         tables, out], cwd=root, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        start_new_session=True)
    CHILDREN.append(proc)
    try:
        text, _ = proc.communicate(timeout=ORACLE_LIMIT_S)
    except subprocess.TimeoutExpired:
        stop(proc)
        log("oracle compare timed out")
        return False
    finally:
        CHILDREN.remove(proc)
    sys.stderr.write(text)
    ok_lines = sum(1 for line in text.splitlines() if " OK rows=" in line)
    if proc.returncode != 0 or ok_lines != expected:
        log("oracle compare: exit %d, %d of %d queries equal"
            % (proc.returncode, ok_lines, expected))
        return False
    return True


if __name__ == "__main__":
    sys.exit(main())
