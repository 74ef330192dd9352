#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload <transport|analytics|streaming> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the program. The first run builds the
program and the harness from source with sbt (offline) into .bench_build/.
The last line of stdout is one JSON object: correct, attempted, failed and
metrics -- the end-to-end metrics of BENCHMARK.json untraced, the per-layer
metrics traced. Everything a run measured, with its provenance, is kept in
.bench_build/results/.
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
sys.path.insert(0, HERE)

import layers  # noqa: E402
import stats  # noqa: E402

# the harness JVM's limit; with the checks around it a run, build excluded,
# ends well inside 180 s
JVM_BUDGET_S = 150
BUILD_BUDGET_S = 840
JVM_HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_files(root):
    """The program's and the harness's build inputs."""
    out = [os.path.join(root, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(root, "project"), os.path.join(root, "src", "main"),
                 os.path.join(HERE, "project"), os.path.join(HERE, "src")):
        for d, dirs, files in os.walk(base):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            out += [os.path.join(d, f) for f in files
                    if f.endswith((".scala", ".sbt", ".properties", ".java"))]
    return sorted(p for p in out if os.path.isfile(p))


def tree_sha(root):
    """Content hash of the build inputs, the provenance stamp for a checkout
    that is not a git repository."""
    h = hashlib.sha256()
    for p in source_files(root):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def git_sha(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def run_killing_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; on timeout kills the whole group
    and waits for it."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(root, build_dir):
    """Compiles the program and the harness; returns the JVM classpath."""
    cp_file = os.path.join(build_dir, "classpath.txt")
    if os.path.exists(cp_file):
        built = os.path.getmtime(cp_file)
        if all(os.path.getmtime(p) <= built for p in source_files(root)):
            with open(cp_file) as f:
                return f.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH; it is needed to build the program")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(build_dir, "build.log")
    log("building the program and the harness (sbt, offline)")
    t0 = time.monotonic()
    with open(log_path, "w") as out:
        code = run_killing_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            BUILD_BUDGET_S, cwd=HERE, env=env, stdout=out,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if code != 0:
        fail(f"build failed (exit {code}); see {log_path}", 1)
    with open(log_path) as f:
        lines = [ln.strip() for ln in f if ln.startswith("/") and ".jar" in ln]
    if not lines:
        fail(f"no classpath in the build output; see {log_path}", 1)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    log(f"built in {time.monotonic() - t0:.0f} s")
    return lines[-1]


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(args, classpath, run_dir, data_dir, ncpu):
    budget = JVM_BUDGET_S
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # a heap ceiling only, and the serial collector: it sizes the heap
        # from occupancy after each collection, not from GC timing as G1
        # does, so the resident set follows what the program keeps, heap
        # and native alike, and the same work gives the same peak
        f"-Xmx{JVM_HEAP}", "-XX:+UseSerialGC",
        f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--out", run_dir, "--data", data_dir, "--cpus", str(ncpu)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        try:
            code = run_killing_group(cmd, budget, env=env, stdout=out,
                                     stderr=subprocess.STDOUT,
                                     stdin=subprocess.DEVNULL)
        except subprocess.TimeoutExpired:
            fail(f"the run did not finish within {budget:.0f} s", 1)
    result = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(result):
        tail = open(os.path.join(run_dir, "jvm.log")).read()[-3000:]
        fail(f"the harness JVM failed (exit {code}):\n{tail}", 1)
    with open(result) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["transport", "analytics", "streaming"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")

    root = os.getcwd()
    data_dir = os.path.join(HERE, "data", "sf0.01")
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"no {need} here: run from the root of a checkout of the program")
    if not os.path.isdir(data_dir):
        fail(f"missing testdata {data_dir}")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)

    build_dir = os.path.join(root, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    classpath = build(root, build_dir)

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    run_dir = os.path.join(build_dir, "runs", tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    ncpu = cpus()
    t0 = time.monotonic()
    raw = run_jvm(args, classpath, run_dir, data_dir, ncpu)
    log(f"harness JVM ran {time.monotonic() - t0:.1f} s")

    attempted, failed = raw["attempted"], raw["failed"]
    failures = list(raw["failures"])
    if raw["oracle"]:
        t0 = time.monotonic()
        import oracle  # DuckDB is needed by the analytics workload only
        bad = oracle.compare(data_dir, os.path.join(run_dir, "analytics"),
                             raw["oracle"])
        attempted += len(raw["oracle"])
        failed += len(bad)
        failures += [f"oracle {q}: {why}" for q, why in bad.items()]
        log(f"oracle compare took {time.monotonic() - t0:.1f} s")
    raw["attempted"], raw["failed"] = attempted, failed

    e2e = stats.end_to_end(raw)
    per_layer = layers.per_layer(raw, ncpu) if args.trace else {}
    # a metric the run could not measure fails the run and reads 0
    names = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = per_layer if args.trace else e2e
    for m in names:
        if values.get(m["name"]) is None:
            attempted += 1
            failed += 1
            failures.append(f"metric {m['name']} not measured")
            values[m["name"]] = 0.0
    for f in failures[:20]:
        log(f"FAILED {f}")
    provenance = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "cores": ncpu,
        "git_sha": git_sha(root), "tree_sha256": tree_sha(root),
        "jdk": raw["jdk"], "spark": raw["spark"],
    }
    results_dir = os.path.join(build_dir, "results")
    os.makedirs(results_dir, exist_ok=True)
    record = {"provenance": provenance, "end_to_end": e2e,
              "per_layer": per_layer, "failures": failures,
              "cells": raw["cells"]}
    if args.trace:
        record["layer_self_ms"] = stats.layer_self_ms(raw["spans"], raw["jobs"])
        record["spans"] = raw["spans"]
        untraced = os.path.join(results_dir, f"{args.workload}-s{args.seed}-t0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["end_to_end"]
            record["tracing_overhead"] = {k: e2e[k] - base[k] for k in e2e
                                          if e2e[k] is not None and base[k] is not None}
            log("tracing overhead (traced - untraced): " + json.dumps(
                record["tracing_overhead"]))
    with open(os.path.join(results_dir, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({"provenance": provenance}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in names},
    }))


if __name__ == "__main__":
    main()
