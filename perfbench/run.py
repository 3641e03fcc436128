#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, offline) into .bench_build/; later runs reuse the
build while no source file changed. Each run works in its own directory
under .bench_work/ and removes it when done; traced runs leave their span
file under .bench_out/. See perfbench/README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
STAMP = os.path.join(BUILD, "stamp")
WORKLOADS = ("bulk_backfill", "kn_scoring")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840

sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import kn_oracle  # noqa: E402


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        sub = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(sub))) if sub else None
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("[perfbench] no Spark distribution: set SPARK_HOME")
    return home


def build(home):
    want = stamp()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == want:
        return
    log("building engine and harness (sbt, offline)")
    env = dict(os.environ, SPARK_HOME=home, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    for o in ("-Dsbt.offline=true", "-Dsbt.override.build.repos=true"):
        if o.split("=")[0] not in opts:
            opts += " " + o
    env["SBT_OPTS"] = opts.strip()
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                       env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_LIMIT_S)
    if p.returncode != 0:
        sys.exit(f"[perfbench] build failed ({p.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(want)
    log(f"built in {time.time() - t0:.0f}s")


def java(home, work, main, main_args):
    """The JVM command line for `main` with the engine on the classpath."""
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cp = os.pathsep.join([CLASSES, os.path.join(home, "jars", "*")])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the heap and code cache the repo's own build runs the program with
    heap = os.environ.get("SPARK_DRIVER_MEM", "8g")
    cmd = ["java", f"-Xmx{heap}", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in opens:
        cmd += ["--add-opens", f"java.base/{o}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, main] + main_args


def run_jvm(cmd, limit):
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(f"[perfbench] workload did not finish within {limit:.0f}s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t0 = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("[perfbench] engine sources (src/main/scala/graft) not found: "
                 "run from the root of a full checkout")
    home = spark_home()
    os.makedirs(BUILD, exist_ok=True)
    build(home)
    build_s = time.time() - t0

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(work, "result.json")
    try:
        cmd = java(home, work, "perfbench.Main", [
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", os.path.join(work, "w"), "--out", out])
        rc = run_jvm(cmd, RUN_LIMIT_S - (time.time() - t0 - build_s))
        if rc != 0 or not os.path.exists(out):
            sys.exit(f"[perfbench] workload exited with {rc}")
        with open(out) as fh:
            res = json.load(fh)
        for n in res.get("notes", []):
            log(n)
        if args.workload == "kn_scoring":
            bad = kn_oracle.check(os.path.join(work, "kn"))
            res["attempted"] += len(kn_oracle.QUERIES)
            res["failed"] += len(bad)
            if bad:
                res["correct"] = False
                log(f"KN answers differ from the DuckDB oracle: {', '.join(bad)}")
        for f in os.listdir(work):
            if f.startswith("spans-"):
                shutil.move(os.path.join(work, f), os.path.join(out_dir, f))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    line = {k: res[k] for k in ("correct", "attempted", "failed", "metrics")}
    print(json.dumps(line), flush=True)


if __name__ == "__main__":
    main()
