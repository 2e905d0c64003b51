#!/usr/bin/env python3
"""Benchmark runner for the graft Spark engine.

Builds the engine and the benchmark package from source and generates
the analytics inputs (once per checkout, again whenever a source
changes), then runs one workload in a fresh JVM and relays its output. The last line of standard output is
the result object: {"correct", "attempted", "failed", "metrics"}.

  python3 perfbench/run.py --workload <name|all> --seed <n> \
      --seconds <s> --trace <0|1>

Workloads: analytics, pos_pipeline;
`all` runs each in turn and ends with one combined result line.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["analytics", "pos_pipeline"]
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build")
    return os.path.abspath(d)


def sources():
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                             recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"),
                              recursive=True))
    return files + [os.path.join(HERE, "build.sbt"),
                    os.path.join(HERE, "project/build.properties")]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        fail("Spark jars not found: set SPARK_HOME")
    return jars


def java_cmd(classes, work):
    """The JVM command line up to the main class, all writes under `work`."""
    return (["java", "-Xmx3g"]
            + [f"--add-opens={p}=ALL-UNNAMED" for p in JVM_OPENS]
            + [f"-Djava.io.tmpdir={work}/tmp",
               f"-Dderby.system.home={work}",
               f"-Dderby.stream.error.file={work}/derby.log",
               f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
               "-Dspark.ui.enabled=false",
               "-cp", f"{classes}{os.pathsep}{spark_jars()}/*",
               "perfbench.Bench"])


def build(out):
    """Compiles, and generates the seed-free analytics inputs, when the
    sources differ from the last build's."""
    if not os.path.isdir(os.path.join(ROOT, "src/main/scala/graft")):
        fail("engine sources (src/main/scala/graft) are missing")
    digest = hashlib.sha256()
    for f in sources():
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(out, "build.stamp")
    classes = os.path.join(out, "sbt", "scala-2.13", "classes")
    inputs = os.path.join(out, "inputs")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classes, inputs
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    os.makedirs(out, exist_ok=True)
    if os.path.exists(stamp):
        os.remove(stamp)
    try:
        r = subprocess.run(
            ["sbt", "-batch", f"-Dperfbench.target={out}/sbt",
             f"-Dperfbench.sparkJars={spark_jars()}", "compile"],
            cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
            timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    if r.returncode != 0 or not os.path.isdir(classes):
        fail("build failed", 3)
    work = os.path.join(out, "runs", f"prepare-{os.getpid()}")
    shutil.rmtree(inputs, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    r = subprocess.run(java_cmd(classes, work) + [
        "--prepare", "1", "--work", work, "--inputs", inputs],
        cwd=work, stdout=sys.stderr, stderr=sys.stderr,
        timeout=BUILD_TIMEOUT_S)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0:
        fail("input generation failed", 3)
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return classes, inputs


def run_jvm(classes, inputs, out, workload, args):
    run_id = f"{workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(out, "runs", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = java_cmd(classes, work) + [
        "--workload", workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--inputs", inputs,
        "--expected", os.path.join(HERE, "expected", "analytics.json"),
        "--spans", os.path.join(out, "traces", f"{run_id}.spans.json"),
        "--t0", str(time.time_ns())]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    lines = []

    def relay():
        for line in proc.stdout:
            line = line.rstrip("\n")
            print(line, flush=True)
            lines.append(line)
    # stdout is read on its own thread, so the deadline holds even when
    # the JVM hangs without writing anything
    reader = threading.Thread(target=relay, daemon=True)
    reader.start()
    try:
        proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        reader.join(timeout=5)
        shutil.rmtree(work, ignore_errors=True)
        fail(f"{workload} did not finish within {RUN_TIMEOUT_S} s", 4)
    reader.join()
    shutil.rmtree(work, ignore_errors=True)
    last = next((l for l in reversed(lines) if l.startswith("{")), None)
    if proc.returncode != 0 or last is None:
        fail(f"{workload} exited with code {proc.returncode}", 5)
    return json.loads(last)


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    out = build_dir()
    classes, inputs = build(out)
    if args.workload != "all":
        run_jvm(classes, inputs, out, args.workload, args)
        return
    results = {w: run_jvm(classes, inputs, out, w, args) for w in WORKLOADS}
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{k}": v for w, r in results.items()
                    for k, v in r["metrics"].items()}}))


if __name__ == "__main__":
    main()
