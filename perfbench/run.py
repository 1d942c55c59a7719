#!/usr/bin/env python3
"""Served-path benchmark: build, generate seeded inputs, run, check.

Usage (from the repository root):
    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Steps:
  1. build the repository and the benchmark with sbt (cached in
     .bench_build/ by a hash of the sources) and export the classpath;
  2. write the seed's parquet tables with DuckDB (datagen.py) into a
     per-run work directory under .bench_build/, removed at the end;
  3. launch one JVM (perfbench.LoadBench) directly with java, so its
     metric lines reach stdout unprefixed;
  4. check every analytic result against DuckDB over the same parquet;
  5. print one JSON object as the last stdout line.

Exits non-zero without a result line when any step fails.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
# the tables each workload's set-up imports
WORKLOAD_TABLES = {
    "point_read": ("orders", "customer"),
    "oltp_mixed": ("orders", "customer"),
    "analytic_mix": ("region", "nation", "customer", "orders", "lineitem", "events"),
}
JVM_TIMEOUT_S = 150

# java.base packages Spark needs opened on JDK 17 (the launcher's defaults)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def source_hash():
    """Hash of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src", "main")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(r)
            if "target" not in os.path.relpath(d, r).split(os.sep) for f in files)
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(p.encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile and return the runtime classpath."""
    stamp = os.path.join(BUILD, "classpath.json")
    digest = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("hash") == digest:
            return cached["classpath"]
    log("building (sbt compile)")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=840)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines or "/" not in lines[-1]:
        sys.stderr.write(out.stdout[-4000:])
        raise RuntimeError("build failed")
    classpath = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"hash": digest, "classpath": classpath}, f)
    return classpath


def run_jvm(classpath, args, data, tables, work, out_file):
    java = ["java", "-Xms1g", "-Xmx3g", "-XX:+UseG1GC", "-Duser.timezone=UTC",
            "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        java += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd = java + ["-cp", classpath, "perfbench.LoadBench",
                  "--workload", args.workload, "--seed", str(args.seed),
                  "--seconds", str(args.seconds), "--trace", str(args.trace),
                  "--data", data, "--tables", ",".join(tables), "--work", work,
                  "--out", out_file]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise RuntimeError("benchmark JVM timed out")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    sys.stdout.write(stdout)
    if proc.returncode != 0:
        raise RuntimeError("benchmark JVM exited with %d" % proc.returncode)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_TABLES))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        log("no program to measure next to the benchmark (build.sbt, src/main)")
        return 2
    sys.path.insert(0, HERE)
    import datagen
    import oracle

    classpath = build()
    work = os.path.join(BUILD, "work-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    try:
        tables = WORKLOAD_TABLES[args.workload]
        data = datagen.generate(args.seed, os.path.join(work, "data"), tables)
        log("inputs ready")
        out_file = os.path.join(work, "result.json")
        run_jvm(classpath, args, data, tables, work, out_file)
        log("JVM done")
        with open(out_file) as f:
            result = json.load(f)
        spans = out_file + ".spans.jsonl"
        if os.path.exists(spans):
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            shutil.copy(spans, os.path.join(
                BUILD, "traces", "%s-seed%d.spans.jsonl" % (args.workload, args.seed)))
        wrong = set(oracle.check(data, result["analytics"]))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print("%-40s %d statements, %d wrong" % ("check.analytic_oracle",
                                             len(result["analytics"]), len(wrong)))
    for w in sorted(wrong)[:5]:
        log("analytic mismatch: " + w)
    failed = result["failed"] + sum(e["ops"] for e in result["analytics"] if e["sql"] in wrong)
    for name, m in result["metrics"].items():
        # failed operations count as never answered (infinite latency); a
        # percentile that lands on one has no value to report
        if not (isinstance(m["value"], (int, float)) and math.isfinite(m["value"])):
            raise RuntimeError("%s has no finite value: %d of %d operations failed"
                               % (name, failed, result["attempted"]))
    attempted = result["attempted"]
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": result["metrics"]}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception as e:  # noqa: BLE001 - any failure means no result line
        log("failed: %s" % e)
        sys.exit(1)
