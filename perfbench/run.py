#!/usr/bin/env python3
"""graft benchmark: one command, two workloads, one JSON result line.

    python3 perfbench/run.py --workload serve_mixed|suite_ingest \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the engine
(src/main/scala) and the benchmark's own JVM side (perfbench/scala)
into the build directory ($CARGO_TARGET_DIR, default .bench_build);
later runs reuse the classes while the sources are unchanged.

Each run generates its inputs from the seed into a fresh run directory
under the build directory, which also holds the run's index root, Spark
local dir, warehouse and temp dir, and is deleted at the end. The JVM
side writes the raw samples; this script checks outputs, turns the
samples into metrics and prints them as the last line of stdout. With
--trace 1 it prints the per-layer metrics instead and keeps the span
file under <build dir>/traces/.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

sys.dont_write_bytecode = True

import layers  # noqa: E402
import oracle  # noqa: E402
import plans  # noqa: E402

WORKLOADS = ("serve_mixed", "suite_ingest")
RUN_LIMIT_S = 170.0
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


# --------------------------------------------------------------------------
# metrics helpers

def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    all samples at or below it."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def tail_percentile(n):
    """The highest whole percentile with at least ten of n samples
    beyond it (None below 11 samples)."""
    for p in range(99, 0, -1):
        if n - math.ceil(p / 100.0 * n) >= 10:
            return p
    return None


def geomean(values):
    return math.exp(sum(math.log(max(v, 1e-9)) for v in values) / len(values))


def end_to_end(raw):
    """The bounded metrics: set-up time and peak memory."""
    if not raw["ops_ms"] or raw["window_ops"] <= 0:
        raise BenchError("no operation completed in the window")
    return {
        "setup_s": (statistics.median(raw["setup_s"]), "s"),
        "peak_rss_mb": (raw["info"]["peak_rss_mb"], "MB"),
    }


def window_stats(raw):
    """Throughput, latency and CPU time per operation of the measured
    window. Printed on the info line but not bounded: on a shared host
    the time the hypervisor takes away moves all three (see CHANGES.md)."""
    ops = raw["ops_ms"]
    p = tail_percentile(len(ops))
    out = {
        "ops_per_s": raw["window_ops"] / raw["window_s"],
        "cpu_ms_per_op": raw["window_cpu_ms"] / raw["window_ops"],
        "op_p50_ms": percentile(ops, 50),
        "op_geomean_ms": geomean(ops),
        "ops": len(ops),
    }
    if p is not None:
        out[f"op_p{p}_ms"] = percentile(ops, p)
    return out


# --------------------------------------------------------------------------
# build

def spark_jars(root):
    """The Spark distribution's jars: $SPARK_HOME/jars, else the
    directory the repository's build.sbt names as `unmanagedBase`."""
    if os.environ.get("SPARK_HOME"):
        jar_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(root, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if not m:
            raise BenchError("set SPARK_HOME: build.sbt names no unmanagedBase")
        jar_dir = m.group(1)
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not jars:
        raise BenchError(f"no Spark jars under {jar_dir}")
    return jars


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BenchError(f"engine sources not found: {main}")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"),
                              recursive=True))
    return files


def build(root, build_dir):
    """Compile the engine and the benchmark's JVM side with the Scala
    compiler that ships in the Spark distribution; skipped when the
    source digest is unchanged."""
    import fcntl
    files = sources(root)
    jars = spark_jars(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    digest = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "classes.sha256")
    os.makedirs(build_dir, exist_ok=True)
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp) and open(stamp).read() == digest:
            return classes, jars
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        argfile = os.path.join(build_dir, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(files) + "\n")
        cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
               "-cp", os.pathsep.join(jars),
               "scala.tools.nsc.Main", "-nowarn", "-classpath",
               os.pathsep.join(jars), "-d", classes, "@" + argfile]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=800)
        if p.returncode != 0:
            sys.stderr.write(p.stdout[-4000:])
            raise BenchError("compilation failed")
        with open(stamp, "w") as fh:
            fh.write(digest)
    return classes, jars


# --------------------------------------------------------------------------
# run

def cpus():
    try:
        return max(1, len(os.sched_getaffinity(0)))
    except AttributeError:
        return max(1, os.cpu_count() or 1)


def run_jvm(classes, jars, args, run_dir, n_cpus, deadline):
    env = dict(os.environ,
               SPARK_GRAFT_INDEX_DIR=os.path.join(run_dir, "index"),
               SPARK_GRAFT_CPUS=str(n_cpus))
    env.pop("SPARK_GRAFT_SF_DIR", None)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + tmp,
            "-Dspark.local.dir=" + os.path.join(run_dir, "spark-local"),
            "-Dspark.sql.warehouse.dir=" + os.path.join(run_dir, "warehouse"),
            "-Dspark.driver.host=127.0.0.1",
            "-Dspark.driver.bindAddress=127.0.0.1"]
    if args[1] == "serve_mixed":
        cmd.append("-Dspark.scheduler.mode=FAIR")  # HttpApi requires it
    cmd += ["-cp", os.pathsep.join([classes] + jars),
            "graft.perfbench.Main"] + args
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, env=env, cwd=run_dir, stdout=log,
                             stderr=subprocess.STDOUT, start_new_session=True)

        def stop(*_):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()

        # a terminated benchmark takes its JVM with it
        signal.signal(signal.SIGTERM, lambda *a: (stop(), sys.exit(143)))
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            stop()
            raise BenchError("benchmark JVM exceeded the run time limit")
        except KeyboardInterrupt:
            stop()
            raise
    if rc != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise BenchError(f"benchmark JVM exited with {rc}")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    started = time.time()
    deadline = started + RUN_LIMIT_S
    root = os.getcwd()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    n_cpus = cpus()
    classes, jars = build(root, build_dir)
    deadline = max(deadline, time.time() + 150.0)  # a build may precede
    run_dir = os.path.join(build_dir, "runs",
                           f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        data = os.path.join(run_dir, "data")
        t_gen = time.time()
        plans.make(a.workload, a.seed, data)
        t_jvm = time.time()
        out = os.path.join(run_dir, "result.json")
        run_jvm(classes, jars, [
            "--workload", a.workload, "--data", data, "--run-dir", run_dir,
            "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cpus", str(n_cpus), "--out", out,
        ], run_dir, n_cpus, deadline)
        t_done = time.time()
        with open(out) as fh:
            raw = json.load(fh)
        raw["info"]["wall.generate_s"] = t_jvm - t_gen
        raw["info"]["wall.jvm_s"] = t_done - t_jvm
        failures = list(raw["failures"])
        failed = raw["failed"]
        attempted = raw["attempted"]
        if a.workload == "suite_ingest":
            bad = oracle.check(data, os.path.join(run_dir, "verify"),
                               raw["info"]["suite.oracle_sql"])
            attempted += len(raw["info"]["suite.oracle_sql"])
            failed += len(bad)
            failures += [f"oracle mismatch: {n}" for n in bad]
        for f in failures:
            sys.stderr.write(f"[perfbench] failed: {f}\n")
        if a.trace:
            traces = os.path.join(build_dir, "traces")
            os.makedirs(traces, exist_ok=True)
            spans = os.path.join(run_dir, "spans.jsonl")
            if os.path.exists(spans):
                shutil.copy(spans, os.path.join(
                    traces, f"{a.workload}-seed{a.seed}.jsonl"))
            metrics = {k: (raw["layers"].get(k, 0.0), u)
                       for k, u, _ in layers.PER_LAYER}
        else:
            metrics = end_to_end(raw)
            raw["info"]["window"] = window_stats(raw)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    settings = {k: raw["info"][k] for k in
                ("spark.master", "spark.sql.shuffle.partitions",
                 "spark.scheduler.mode")}
    print(f"[perfbench] {a.workload} seed={a.seed} cpus={n_cpus} "
          f"settings={json.dumps(settings)} info=" +
          json.dumps({k: v for k, v in raw["info"].items()
                      if k != "suite.oracle_sql"}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BenchError as e:
        sys.stderr.write(f"[perfbench] error: {e}\n")
        sys.exit(2)
