#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, checked outputs, one JSON line.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload sensor_etl|stream_replay \
        --seed N --seconds S --trace 0|1

Steps:
 1. builds the engine and the JVM harness from source (perfbench/build.sbt;
    output in $CARGO_TARGET_DIR or .bench_build), skipped when no source
    changed since the last build;
 2. makes the seeded inputs (cached per seed under .bench_data);
 3. runs the workload in a fresh JVM (perfbench.Harness): set-up once,
    timed from launch, one cold pass, warm passes for S seconds (the
    metrics come from those that start in the second half);
 4. checks every op's output against an independent answer;
 5. prints one JSON object as the last line of stdout. With --trace 0 it
    holds the end-to-end metrics, with --trace 1 the per-layer ones.

A record with the full measurements and host stamps (cores, load average
at start and end, JVM heap) goes to .bench_data/records.
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

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402
import metrics  # noqa: E402

DATA = os.path.join(ROOT, ".bench_data")
HEAP = "2g"
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 850
# The read-only sf0.1 estate stream_replay subsamples (TESTDATA.md).
ESTATE_SOURCE = os.environ.get(
    "PERFBENCH_ESTATE", os.path.join(os.path.expanduser("~"), "testdata", "sf0.1"))

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


# --- build ----------------------------------------------------------------------

def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
             os.path.join(ROOT, "build.sbt")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    out = build_dir()
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "source.sha256")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read()
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log("building the engine and harness (sbt)")
    t0 = time.time()
    with open(os.path.join(out, "build.log"), "w") as logf:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "writeClasspath"],
            cwd=HERE, env=env, stdout=logf, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(cp_file):
        fail(f"build failed, see {os.path.join(out, 'build.log')}")
    log(f"built in {time.time() - t0:.1f} s")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as c:
        return c.read()


# --- inputs ---------------------------------------------------------------------

def make_inputs(workload, seed):
    if workload == "sensor_etl":
        d = inputs.cached(DATA, "sensor", seed, lambda dest: inputs.make_sensor(dest, seed))
        return d, inputs.READINGS
    if not os.path.isdir(ESTATE_SOURCE):
        fail(f"estate not found at {ESTATE_SOURCE} (set PERFBENCH_ESTATE)")
    d = inputs.cached(DATA, "estate", seed,
                      lambda dest: inputs.make_estate(dest, seed, ESTATE_SOURCE))
    rows = sum(pq.ParquetFile(os.path.join(d, f"{t}.parquet")).metadata.num_rows
               for t in inputs.ESTATE_TABLES)
    return d, rows


# --- the JVM run ------------------------------------------------------------------

def java_binary():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def jvm_flags(run_dir):
    """JVM options for a harness JVM whose temporary files go to `run_dir`."""
    flags = []
    for m in ADD_OPENS:
        flags += ["--add-opens", f"{m}=ALL-UNNAMED"]
    # a fixed heap: with one that grows on demand, how fast the warm passes
    # ran depended on how the run had happened to size it. It is touched at
    # JVM start (in setup_s), so first-touch page faults stay out of the passes
    return flags + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
        f"-Djava.io.tmpdir={run_dir}/tmp",
        f"-Dspark.local.dir={run_dir}/local",
        f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
        f"-Dderby.system.home={run_dir}",
        f"-Dspark.hadoop.hadoop.tmp.dir={run_dir}/tmp",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
    ]


def jvm_env():
    """The engine reads SPARK_GRAFT_*; only the core count is passed on.
    SPARK_LOCAL_DIRS would move Spark's temporary files out of the run dir."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k != "SPARK_LOCAL_DIRS"}
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    return env


def run_jvm(cp, workload, data, run_dir, seconds, trace):
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub))
    cmd = [java_binary(), *jvm_flags(run_dir), "-cp", cp, "perfbench.Harness",
           "--workload", workload, "--data", data, "--run", run_dir,
           "--seconds", str(seconds), "--trace", str(trace)]
    env = jvm_env()
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        launch = time.time()
        proc = subprocess.Popen(cmd + ["--launch-epoch-s", repr(launch)], cwd=run_dir, env=env,
                                stdout=logf, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            # also on SIGTERM (see main): never leave the JVM running
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        if code is None:
            fail(f"harness did not finish within {JVM_TIMEOUT_S} s, see {run_dir}/jvm.log")
    report = os.path.join(run_dir, "report.json")
    if code != 0 or not os.path.exists(report):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = f.read()[-3000:]
        log(tail)
        fail(f"harness exited with {code}, see {run_dir}/jvm.log")
    with open(report) as f:
        return json.load(f)


# --- checks -----------------------------------------------------------------------

def check_outputs(workload, data, run_dir, report):
    """(ops attempted, ops failed, problems)."""
    problems = []
    attempted = failed = 0
    sensor = checks.SensorCheck(data) if workload == "sensor_etl" else None
    oracle = checks.Oracle(data) if workload != "sensor_etl" else None
    sql = {}
    if oracle is not None:
        with open(os.path.join(run_dir, "oracle_sql.json")) as f:
            sql = json.load(f)
    for p in report["passes"]:
        for op in p["ops"]:
            attempted += 1
            if op["error"]:
                found = [f"pass {p['index']} {op['name']}: {op['error']}"]
            elif workload == "sensor_etl":
                found = sensor(op["out"])
            else:
                found = checks.check_query(oracle, op["name"], sql.get(op["name"]), op["out"])
            if found:
                failed += 1
                problems += [f"pass {p['index']}: {x}" for x in found]
    if workload == "sensor_etl":
        problems += checks.check_decode_sample(data, os.path.join(run_dir, "sample_decoded"))
    return attempted, failed, problems


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=metrics.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run unwinds like an error, so the JVM or build it waits on
    # is stopped before it exits
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "Engine.scala")):
        fail(f"no engine sources under {ROOT}; run from the root of a graft checkout")
    load_start = os.getloadavg()[0]
    cp = build()
    t0 = time.time()
    data, input_rows = make_inputs(a.workload, a.seed)
    log(f"inputs ready in {time.time() - t0:.1f} s: {data}")

    run_dir = os.path.join(DATA, "run", a.workload)
    t0 = time.time()
    report = run_jvm(cp, a.workload, data, run_dir, a.seconds, a.trace)
    log(f"harness ran {time.time() - t0:.1f} s")
    t0 = time.time()
    attempted, failed, problems = check_outputs(a.workload, data, run_dir, report)
    log(f"outputs checked in {time.time() - t0:.1f} s")
    for p in problems[:20]:
        log(f"check: {p}")
    values = (metrics.per_layer(report, failed, input_rows) if a.trace
              else metrics.end_to_end(report, input_rows))
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": len(os.sched_getaffinity(0)), "load_start": load_start,
        "load_end": os.getloadavg()[0], "jvm_heap_max_mb": report["heap_max_mb"],
        "input_rows": input_rows, "attempted": attempted, "failed": failed,
        "problems": problems, "metrics": values,
        "setup": report["setup"],
        "passes": [{"index": p["index"], "traced": p["traced"], "start_s": p["start_s"],
                    "measured": p["measured"], "wall_s": p["wall_s"],
                    "ops": {o["name"]: o["wall_s"] for o in p["ops"]}}
                   for p in report["passes"]],
    }
    os.makedirs(os.path.join(DATA, "records"), exist_ok=True)
    rec = os.path.join(DATA, "records",
                       f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time())}.json")
    with open(rec, "w") as f:
        json.dump(record, f, indent=1)
    log(f"record: {rec}")
    units = metrics.UNITS
    print(json.dumps({
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))


if __name__ == "__main__":
    main()
