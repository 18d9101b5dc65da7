#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the engine and the benchmark from source with sbt (again whenever
their sources change; the run's own files go under .bench_build/), generates the workload's inputs
from the seed, runs the workload in one JVM (local[4], 4 shuffle
partitions), checks its outputs, and prints as its last line one JSON
object: correct, attempted, failed and the metrics named in
BENCHMARK.json (end_to_end without tracing, per_layer with it). The line
before it carries the workload's own named figures.
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
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("cdc_replay", "cdc_live_ivm", "query_mix")
QUERY_SF = 0.01
DEADLINE_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def fingerprint():
    """Hash of every build input: the engine's and the benchmark's build
    files and sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def classpath():
    """Compile with sbt unless the last build was of the same sources, and
    return the runtime classpath. sbt compiles in place into the checkout's
    target directories, so one stamp records which sources they hold; it is
    removed before a build and written only after one succeeds."""
    fp = fingerprint()
    stamp = os.path.join(BUILD, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            built = json.load(f)
        if built["fingerprint"] == fp:
            return built["classpath"]
        os.remove(stamp)
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True, timeout=840)
        out.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if "perfbench" in ln and os.pathsep in ln]
    if p.returncode != 0 or not lines:
        fail(f"build failed (exit {p.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    return cp


def jvm_cmd(cp, work, main_args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-cp", cp, "perfbench.Main", "--work", work] + main_args


def run_jvm(cp, args, work, data, deadline):
    main_args = ["--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace)]
    if data:
        main_args += ["--data", data]
    cmd = jvm_cmd(cp, work, main_args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(os.path.join(work, "jvm.log"), "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, env=env,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"workload did not finish in time; see {work}/jvm.log")
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if p.returncode != 0 or not lines:
        fail(f"workload JVM exited {p.returncode} without a result; see {work}/jvm.log")
    return json.loads(lines[-1])


def main():
    start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the repository root: the engine sources (build.sbt, src/main) are missing")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    cp = classpath()
    # a build may take most of the first run; what follows gets its own budget
    deadline = max(start, time.time() - 10) + DEADLINE_S
    work = os.path.join(BUILD, f"run-{args.workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data = None
    if args.workload == "query_mix":
        sys.path.insert(0, HERE)
        import tables
        data = os.path.join(work, "data")
        tables.generate(data, args.seed, QUERY_SF)
    r = run_jvm(cp, args, work, data, deadline)
    correct, attempted, failed = r["correct"], r["attempted"], r["failed"]
    errors = list(r["errors"])
    if args.workload == "query_mix" and correct:
        import tables
        verdict = tables.oracle_check(data, os.path.join(work, "results"))
        bad = {n: v for n, v in verdict.items() if v}
        if bad:
            correct = False
            failed = attempted
            errors += [f"{n}: oracle mismatch: {v}" for n, v in sorted(bad.items())]

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    got = r["layers"] if args.trace else r["e2e"]
    if args.trace:
        # a layer the workload does not exercise did no work: report 0
        got = {m["name"]: got.get(m["name"], 0.0) for m in wanted}
    missing = [m["name"] for m in wanted if got.get(m["name"]) is None]
    if missing:
        correct = False
        errors.append(f"metrics not measured: {missing}")
    metrics = {m["name"]: {"value": got[m["name"]], "unit": m["unit"]}
               for m in wanted if got.get(m["name"]) is not None}

    detail = dict(r["detail"])
    last = os.path.join(BUILD, f"last-untraced-{args.workload}.json")
    if not args.trace and correct:
        with open(last, "w") as f:
            json.dump(r["e2e"], f)
    elif args.trace and os.path.exists(last):
        with open(last) as f:
            base = json.load(f)
        for k in ("latency_s", "throughput_per_s"):
            if base.get(k) and r["layers"].get(f"trace.{k}"):
                detail[f"trace_overhead.{k}"] = r["layers"][f"trace.{k}"] / base[k] - 1.0
    for e in errors:
        print(f"perfbench: {e}", file=sys.stderr)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "detail": detail,
                      "errors": errors}))
    print(json.dumps({"correct": bool(correct), "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
