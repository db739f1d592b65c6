#!/usr/bin/env python3
"""Stream-consumer benchmark: builds the consumer and this harness with sbt,
runs one workload in a fresh JVM and prints one JSON result line.

Run from the root of a checkout:

    python3 perfbench/run.py --workload backlog_drain --seed 1 --seconds 30 --trace 0

Workloads: backlog_drain, live_tail (see perfbench/README.md).
Build outputs and scratch files go under .bench_build/ in the checkout.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
DEADLINE_S = 175
WORKLOADS = ("backlog_drain", "live_tail")
SCALE_RECORDS = 40000  # Main.ScaleRecords

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def newest_source_mtime():
    pats = [
        os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "*.sbt"),
        os.path.join(ROOT, "project", "build.properties"),
        os.path.join(ROOT, "src", "main", "**", "*"),
        os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
        os.path.join(HERE, "src", "**", "*"),
    ]
    files = [f for p in pats for f in glob.glob(p, recursive=True) if os.path.isfile(f)]
    return max(os.path.getmtime(f) for f in files)


def build():
    """Compiles with sbt unless the recorded classpath is newer than every source."""
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) > newest_source_mtime():
        with open(CLASSPATH) as f:
            return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true", "-Xmx3g",
            f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building consumer and harness with sbt")
    t0 = time.time()
    subprocess.run(["sbt", "--batch", "writeClasspath"], cwd=HERE, env=env,
                   stdout=sys.stderr, stderr=sys.stderr, check=True, timeout=800)
    log(f"build took {time.time() - t0:.0f} s")
    shutil.copyfile(os.path.join(HERE, "target", "classpath.txt"), CLASSPATH)
    with open(CLASSPATH) as f:
        return f.read().strip()


def run_jvm(cp, workload, seed, seconds, trace, cores, timeout, extra=()):
    """One measured run in its own JVM; returns the parsed result line."""
    work = os.path.join(BUILD, "work", f"{workload}-{seed}-{trace}-{cores}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-Xmx3g"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "-cp", cp, "perfbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--work", work, "--traces", os.path.join(BUILD, "traces"),
        *extra,
    ]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    try:
        p = subprocess.run(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                           timeout=timeout, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if not lines:
        raise RuntimeError(f"{workload} run exited {p.returncode} without a result")
    return json.loads(lines[-1])


def main():
    # a TERM becomes SystemExit, so subprocess.run kills and reaps the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log("run from the root of a checkout that holds the consumer (build.sbt, src/main/scala)")
        return 2
    cp = build()
    start = time.time()  # a first run in a checkout may also build; the deadline covers the runs
    cores = os.cpu_count() or 1
    res = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, cores, DEADLINE_S)
    if a.trace == 1:
        m = res["metrics"]
        one = 0.0
        if a.workload == "backlog_drain":
            # the traced run's fixed-size drain again, at one core, untraced, in its own JVM
            base = run_jvm(cp, a.workload, a.seed, a.seconds, 0, 1, DEADLINE_S - (time.time() - start),
                           extra=("--records", str(SCALE_RECORDS), "--setup-cycles", "1"))
            one = base["metrics"]["drain_rps"]["value"]
            res["failed"] += base["failed"]
            res["correct"] = res["correct"] and base["correct"]
        m["engine.rps_1core"] = {"value": one, "unit": "records/s"}
        m["engine.scale_x"] = {"value": m["engine.rps_ncore"]["value"] / one if one else 0.0, "unit": "ratio"}
    print(json.dumps(res), flush=True)
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
