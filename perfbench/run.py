#!/usr/bin/env python3
"""Runs the benchmark: builds the engine and harness, generates the seeded
inputs, runs one workload in one JVM, checks its outputs, prints metrics.

    python3 perfbench/run.py --workload explore --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are the per-layer metrics. The full artifact (raw
latencies, op plan, host facts) is written to bench_results/.
"""
import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("etl-cycle", "explore")
HEAP = "2g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 880
# generated inputs per workload: scale factor, documents, embeddings
INPUTS = {
    "explore": dict(sf=0.01, docs=1000, vecs=1000),
    "etl-cycle": None,  # the engine's own order generator makes its batches
}
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every input of the build: paths, sizes and contents."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine (through its own build) and the harness; the
    harness build writes the runtime classpath. Skipped when nothing
    changed since the last build."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the engine sources (build.sbt, src/main/scala) are not here")
    stamp = source_stamp()
    target = os.path.join(HERE, "target")
    stamp_file = os.path.join(target, "build.stamp")
    cp_file = os.path.join(target, "classpath.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) \
            and open(stamp_file).read() == stamp:
        return cp_file
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0 or not os.path.isfile(cp_file):
        sys.stderr.write(p.stdout.decode(errors="replace")[-4000:])
        fail("build failed")
    os.makedirs(target, exist_ok=True)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp_file


def digest_dir(d):
    h = hashlib.sha256()
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            h.update(f.encode() + hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_jvm(cp_file, args, work):
    with open(cp_file) as fh:
        cp = os.pathsep.join(l.strip() for l in fh if l.strip())
    cmd = ["java"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "perfbench.Main"] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = os.path.join(work, "jvm.log")
    with open(log, "wb") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log, "rb") as fh:
            tail = fh.read()[-6000:].decode(errors="replace")
        sys.stderr.write(tail)
        fail(f"the benchmark JVM failed ({rc})")


def commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.decode().strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp_file = build()
    work = os.path.join(ROOT, "bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = os.path.join(work, "data")
        inputs = {}
        if INPUTS[a.workload]:
            gen.write(gen.generate(a.seed, **INPUTS[a.workload]), data)
            inputs["tables_sha256"] = digest_dir(data)
        out = os.path.join(work, "result.json")
        run_jvm(cp_file, ["--workload", a.workload, "--seed", str(a.seed),
                          "--seconds", str(a.seconds), "--trace", str(a.trace),
                          "--data", data,
                          "--work", work, "--out", out], work)
        with open(out) as fh:
            res = json.load(fh)
        checks_file = os.path.join(work, "explore", "checks.json")
        oracle_failures = []
        if os.path.isfile(checks_file):
            import oracle
            with open(checks_file) as fh:
                oracle_failures = oracle.check(json.load(fh), data)
        res["check_failures"] += oracle_failures
        summary = stats.summarize(res, a.trace, stats.units(a.trace))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    finished = int(time.time() * 1000)
    artifact = dict(res, inputs=inputs, summary=summary, commit=commit(),
                    source_sha256=source_stamp(), nproc=os.cpu_count(),
                    host=platform.node(), python=platform.python_version(),
                    trace=a.trace, heap=HEAP, finished_ms=finished)
    results = os.path.join(ROOT, "bench_results")
    os.makedirs(results, exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}-{finished}.json"
    with open(os.path.join(results, name), "w") as fh:
        json.dump(artifact, fh, indent=1)
    for f in res["check_failures"]:
        print(f"check failed [{f['kind']}]: {f['message']}", file=sys.stderr)
    for e in res["errors"]:
        print(f"op failed: {e}", file=sys.stderr)
    print(json.dumps({"correct": summary["correct"], "attempted": summary["attempted"],
                      "failed": summary["failed"], "metrics": summary["metrics"]}))


if __name__ == "__main__":
    main()
