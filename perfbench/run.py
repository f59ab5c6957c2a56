#!/usr/bin/env python3
"""graft benchmark: one workload, one run.

Usage (from the root of a graft checkout):
    python3 perfbench/run.py --workload grid_scan|text_pipeline|grid_append
        --seed N --seconds S --trace 0|1

Builds the engine and the benchmark driver from source with sbt (once per
source state), derives the workload's inputs from the seed, runs the
driver JVM as one closed-loop client on local[min(4, nproc)], checks the
outputs (exact law recomputation for the grid workloads, the DuckDB
oracle for text_pipeline), and prints a detail table followed by one JSON
line: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1 its
per-layer metrics.
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
BUILD = os.path.join(HERE, ".build")
WORKLOADS = ("grid_scan", "text_pipeline", "grid_append")
# Spark 4 on JDK 17 outside spark-submit (as in the engine's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
JVM_TIMEOUT_S = 165


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_fingerprint():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"),
                 os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles with sbt unless the recorded build matches the sources;
    returns the driver's runtime classpath."""
    stamp = os.path.join(BUILD, "classpath.json")
    fp = source_fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as f:
            rec = json.load(f)
        if rec["fingerprint"] == fp and all(
                os.path.exists(p) for p in rec["classpath"].split(":")):
            return rec["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
            "-Xmx2g", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840)
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    if r.returncode != 0 or not lines or ":" not in lines[-1]:
        fail(f"build failed, see {log}")
    cp = lines[-1]
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    return cp


def run_jvm(cp, args, work, extra):
    out = os.path.join(work, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in
                    ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp",
        "-Dspark.ui.enabled=false", "-cp", cp, "graftbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cores", str(min(4, os.cpu_count() or 1)),
        "--work", work, "--out", out] + extra
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL,
                             start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"stopped by signal {signum}")
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail("driver JVM timed out")
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        fail(f"driver JVM exited with {rc}:\n{tail}")
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.isfile(spec_path)):
        fail("not a graft checkout: build.sbt, src/main/scala and "
             "BENCHMARK.json must sit next to perfbench/")
    with open(spec_path) as f:
        spec = json.load(f)
    phases = {}
    t0 = time.perf_counter()
    cp = build()
    phases["build_check_s"] = time.perf_counter() - t0

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        extra = []
        if args.workload == "text_pipeline":
            import corpus
            os.makedirs(f"{work}/corpus")
            t0 = time.perf_counter()
            corpus.derive(os.path.join(HERE, "data"), f"{work}/corpus",
                          args.seed)
            extra = ["--corpus", f"{work}/corpus",
                     "--inputs-s", repr(time.perf_counter() - t0)]
        t0 = time.perf_counter()
        res = run_jvm(cp, args, work, extra)
        phases["jvm_s"] = time.perf_counter() - t0

        ops = res["ops"]
        checks = dict(res["self_checks"])
        if args.workload == "text_pipeline":
            o = res["context"].pop("oracle")
            t0 = time.perf_counter()
            verdicts, phases["oracle_op_s"], \
                checks["oracle_rejects_corrupted_result"] = \
                corpus.check(o["corpus"], o["results"], o["sql"])
            phases["oracle_s"] = time.perf_counter() - t0
            for op in ops:
                if op["ok"] and verdicts.get(op["name"]):
                    op["ok"], op["error"] = False, verdicts[op["name"]]
        failed = [o for o in ops if not o["ok"]]

        section = "per_layer" if args.trace else "end_to_end"
        declared = {m["name"]: m["unit"] for m in spec[section]}
        if args.trace:
            measured = {m["name"]: m for m in res["per_layer"]}
        else:
            measured = {k: dict(v, name=k)
                        for k, v in res["end_to_end"].items()}
        checks["metric_names_match_benchmark_json"] = (
            set(measured) == set(declared) and all(
                measured[n]["unit"] == u for n, u in declared.items()))

        print(f"# {args.workload} seed={args.seed} trace={args.trace} "
              f"samples={json.dumps(res['samples'])}")
        for m in (res["per_layer"] if args.trace else measured.values()):
            samples = m.get("samples", "")
            print(f"  {m['name']:<34} {m['value']:>16.6g} {m['unit']:<6}"
                  f" {samples}")
        print(f"  write latency: {json.dumps(res['write_latency_s'])}")
        print(f"  setups: {json.dumps(res['setups'])}")
        print(f"  passes: {json.dumps(res['passes'])}")
        print(f"  context: {json.dumps(res['context'])}")
        print(f"  phases: {json.dumps(phases)}")
        print(f"  self-checks: {json.dumps(checks)}")
        for o in failed[:10]:
            print(f"  FAILED {o['name']} pass {o['pass']}: {o['error']}")
        with open(os.path.join(HERE, ".work",
                               f"last-{args.workload}.json"), "w") as f:
            json.dump(res, f)

        metrics = {n: {"value": measured[n]["value"], "unit": u}
                   for n, u in declared.items() if n in measured}
        print(json.dumps({
            "correct": not failed and all(checks.values()),
            "attempted": len(ops), "failed": len(failed),
            "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
