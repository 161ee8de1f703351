#!/usr/bin/env python3
"""Benchmark one workload of the graft engine.

    python3 perfbench/run.py --workload curate|retrieve|ingest \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run compiles the engine from
`src/main/scala` and the harness from `perfbench/harness/src` with the Scala
compiler shipped in Spark's jars directory (`$SPARK_HOME/jars`); later runs
reuse the classes while the sources are unchanged. Each run generates its
inputs from the seed, starts one fresh JVM that runs the workload, checks the
engine's outputs against independent computations (DuckDB, numpy and the
generator's own record), removes its scratch directory, and prints one JSON
object as the last line of standard output. With `--trace 1` it prints the
per-layer metrics instead of the end-to-end ones and writes the spans to
`perfbench/.traces/`.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen    # noqa: E402

END_TO_END = {"setup_s": "s", "run_s": "s", "op_p50_ms": "ms", "cpu_s": "s",
              "spark_jobs": "count", "shuffle_mb": "MB", "peak_rss_mb": "MB"}

# `--seconds` sizes the timed part in whole rounds: a retrieve round (eight
# serving calls) takes about this long on 4 cores. curate and ingest time
# one fixed pass, because their later passes in the same JVM keep getting
# faster.
RETRIEVE_ROUND_S = 10.0
JVM_TIMEOUT_S = 160
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio "
    "java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch "
    "sun.nio.cs sun.security.action sun.util.calendar").split()]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


class BenchError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BenchError("no Spark jars directory with a Scala compiler; "
                         "set SPARK_HOME")
    return jars


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                              recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "harness/src/**/*.scala"),
                               recursive=True))
    if not engine:
        raise BenchError("no engine sources under src/main/scala: run from "
                         "the repository root")
    if not harness:
        raise BenchError("no harness sources under perfbench/harness/src")
    return engine, harness


def scalac(jars, classpath, dest, files):
    compiler = [os.path.join(jars, j) for j in os.listdir(jars)
                if j.startswith(("scala-compiler-", "scala-library-",
                                 "scala-reflect-"))]
    os.makedirs(dest, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", dest, "-cp", classpath]
    r = subprocess.run(cmd + files, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BenchError("compile failed:\n" + r.stdout[-4000:])


def jar(classes, dest):
    with zipfile.ZipFile(dest, "w") as z:
        for d, _, files in os.walk(classes):
            for f in files:
                path = os.path.join(d, f)
                z.write(path, os.path.relpath(path, classes))


class Build:
    """Compiled engine and harness jars plus the shared class archive that
    the build's warm-up run left, in one directory keyed by the sources."""

    def __init__(self, path, jars):
        self.path = path
        self.classpath = ":".join(
            [os.path.join(path, "harness.jar"), os.path.join(path, "engine.jar")] +
            sorted(glob.glob(os.path.join(jars, "*.jar"))))
        self.archive = os.path.join(path, "classes.jsa")

    def java(self, run_dir, extra=()):
        return (["java", "-Xmx2g", "-Xss4m", "-XX:+UseParallelGC"] + list(extra) +
                ["-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
                 "-Dderby.system.home=" + os.path.join(run_dir, "warehouse")] +
                [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
                ["-cp", self.classpath, "perfbench.Harness"])


def build(root):
    """Compile engine and harness into the build directory, keyed by a hash
    of every source file. Then run the ingest path once on tiny inputs and
    keep the classes that run loaded as a shared class archive: measured
    runs map it instead of loading and verifying Spark's classes again."""
    jars = spark_jars()
    engine, harness = sources(root)
    h = hashlib.sha256()
    for f in engine + harness + [os.path.join(HERE, "gen.py")]:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update(jars.encode())
    base = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    b = Build(os.path.join(root, base, "perfbench-" + h.hexdigest()[:16]), jars)
    os.makedirs(b.path, exist_ok=True)
    with open(os.path.join(b.path, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(b.path, "done")):
            return b
        t0 = time.time()
        classes_e = os.path.join(b.path, "engine")
        classes_h = os.path.join(b.path, "harness")
        for d in (classes_e, classes_h):
            shutil.rmtree(d, ignore_errors=True)
        cp = os.path.join(jars, "*")
        scalac(jars, cp, classes_e, engine)
        scalac(jars, classes_e + ":" + cp, classes_h, harness)
        jar(classes_e, os.path.join(b.path, "engine.jar"))
        jar(classes_h, os.path.join(b.path, "harness.jar"))
        log("compiled engine and harness in %.1f s" % (time.time() - t0))
        t0 = time.time()
        train = os.path.join(b.path, "train")
        shutil.rmtree(train, ignore_errors=True)
        try:
            os.makedirs(os.path.join(train, "input"))
            gen.gen_ingest(0, os.path.join(train, "input"), gen.TINY_INGEST)
            launch(b, "train", train, os.path.join(train, "input"),
                   os.path.join(train, "output"), 1, 1,
                   ["-XX:ArchiveClassesAtExit=" + b.archive])
            log("wrote the shared class archive in %.1f s" % (time.time() - t0))
        except BenchError as e:
            log("no shared class archive, runs load classes from jars: %s" % e)
        finally:
            shutil.rmtree(train, ignore_errors=True)
        open(os.path.join(b.path, "done"), "w").close()
    return b


def rounds_for(workload, seconds):
    if workload == "retrieve":
        return max(1, int(round(seconds / RETRIEVE_ROUND_S)))
    return 1


def launch(b, workload, work, indir, outdir, rounds, trace, extra):
    """Run the harness JVM to completion in its own process group."""
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(outdir, exist_ok=True)
    args = ["workload=" + workload, "input=" + indir, "out=" + outdir,
            "work=" + work, "rounds=%d" % rounds, "trace=%d" % trace,
            "cores=%d" % min(4, os.cpu_count() or 1)]
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: pin it to the run
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    logpath = os.path.join(work, "jvm.log")
    with open(logpath, "w") as logf:
        start = time.time() * 1000.0
        proc = subprocess.Popen(b.java(work, extra) + args + ["launch=%.3f" % start],
                                stdout=logf, stderr=subprocess.STDOUT,
                                cwd=work, start_new_session=True, env=env)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except BaseException as e:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            if isinstance(e, subprocess.TimeoutExpired):
                raise BenchError("the %s JVM ran past %d s" % (workload, JVM_TIMEOUT_S))
            raise
    if code != 0:
        with open(logpath) as f:
            tail = f.read()[-3000:]
        raise BenchError("the %s JVM exited with %d:\n%s" % (workload, code, tail))


def run_jvm(b, workload, seed, seconds, trace, work):
    """Generate inputs, run the harness JVM, and return (result, record,
    input dir, output dir)."""
    indir, outdir = os.path.join(work, "input"), os.path.join(work, "output")
    os.makedirs(indir)
    record = gen.GENERATORS[workload](seed, indir)
    extra = ["-XX:SharedArchiveFile=" + b.archive] if os.path.exists(b.archive) else []
    launch(b, workload, work, indir, outdir, rounds_for(workload, seconds),
           trace, extra)
    with open(os.path.join(outdir, "result.json")) as f:
        result = json.load(f)
    return result, record, indir, outdir


def self_times(spans):
    """Self time per layer: each span's duration minus the part of it that
    its children cover (children never overlap on one driver thread; jobs
    that overlap are merged first)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        iv = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                    for c in kids.get(s["id"], []))
        covered, cur = 0.0, None
        for a, b in iv:
            if b <= a:
                continue
            if cur and a <= cur[1]:
                cur[1] = max(cur[1], b)
            else:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
        if cur:
            covered += cur[1] - cur[0]
        layer = s["layer"]
        out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"] - covered) / 1000.0
    return {k: round(v, 4) for k, v in sorted(out.items())}


def measure(root, workload, seed, seconds, trace):
    """One benchmark run. Returns the printed result object."""
    b = build(root)
    scratch = os.path.join(HERE, ".work")
    os.makedirs(scratch, exist_ok=True)
    work = os.path.join(scratch, "%s-%d-%d" % (workload, seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result, record, indir, outdir = run_jvm(
            b, workload, seed, seconds, trace, work)
        problems, extra = check.CHECKERS[workload](indir, outdir, record)
        for p in problems:
            log("CHECK FAILED: " + p)
        for e in result["errors"]:
            log("OPERATION FAILED: " + e)
        if trace:
            with open(os.path.join(outdir, "spans.json")) as f:
                spans = json.load(f)
            traces = os.path.join(HERE, ".traces")
            os.makedirs(traces, exist_ok=True)
            st = self_times(spans)
            with open(os.path.join(traces, "%s-seed%d.json" % (workload, seed)), "w") as f:
                json.dump({"self_s": st, "spans": spans}, f)
            log("self time by layer (s): " + json.dumps(st))
        return assemble(result, problems, extra, trace)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def assemble(result, problems, extra, trace):
    ops = result["op_ms"]
    e2e = {"setup_s": result["setup_s"], "run_s": result["run_s"],
           "op_p50_ms": statistics.median(ops) if ops else 0.0,
           "cpu_s": result["cpu_s"],
           "spark_jobs": result["spark_jobs"], "shuffle_mb": result["shuffle_mb"],
           "peak_rss_mb": result["peak_rss_mb"]}
    if trace:
        layers = dict(result["layers"], **extra)
        # a layer the workload never calls reads 0
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u}
                   for k, u in sorted(check.LAYER_UNITS.items())}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    return {"correct": not problems, "attempted": result["attempted"],
            "failed": result["failed"], "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        out = measure(os.getcwd(), a.workload, a.seed, a.seconds, a.trace)
    except BenchError as e:
        log(str(e))
        sys.exit(2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
