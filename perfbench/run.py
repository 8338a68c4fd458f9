#!/usr/bin/env python3
"""Closed-loop benchmark of the graft engine.

    python3 perfbench/run.py --workload medallion|gates \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the program and the harness from
source with sbt (offline) on first use, then runs one fresh JVM that sets
up from cold (session start + one untimed warm-up pass) and measures one
workload. The last line of standard output is the result: {"correct",
"attempted", "failed", "metrics"}; the line before it is a detail record
(host fingerprint, workload-named figures, checksums). With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1 its
per-layer metrics.

Build output and all generated data live under $CARGO_TARGET_DIR (default
.bench_build) in the checkout; the per-run data directory is removed on
exit.
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
# A first run (build + run) must end within 900 s, later ones within 180 s.
BUILD_TIMEOUT_S = 540
RUN_BUDGET_S = 170
WORKLOADS = ("medallion", "gates")

# The gates workload's fixed input (see perfbench/README.md).
SF_DIR = os.path.join(HERE, "data", "sf0.01")

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every input of the build, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group and returns (exit code, stdout);
    on timeout, or when this script is stopped, the whole group is killed
    (code None)."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        return None, b""
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def spark_jars():
    """The jars of the Spark installation: $SPARK_HOME, else the one whose
    spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def build(build_dir):
    """Compile with sbt unless the sources are unchanged since the last
    build; returns the runtime classpath."""
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(build_dir, "sources.sha256")
    cp_file = os.path.join(build_dir, "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    env = dict(os.environ, COURSIER_MODE="offline", PERFBENCH_BUILD_DIR=build_dir,
               PERFBENCH_SPARK_JARS=spark_jars())
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                       "-Dsbt.repository.config=" +
                       os.path.expanduser("~/.sbt/repositories") + " -Xmx2g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"]
    code, out = run_group(cmd, BUILD_TIMEOUT_S, cwd=HERE, env=env,
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if code != 0 or not os.path.exists(cp_file):
        sys.stderr.write(out.decode(errors="replace")[-4000:])
        fail("build failed")
    classpath = open(cp_file).read()
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath


def java_cmd(classpath, tmp):
    cmd = ["java", "-Xmx3g", "-Duser.timezone=UTC", "-Djava.io.tmpdir=" + tmp]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    return cmd + ["-cp", classpath]


def declared_metrics(trace):
    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_file):
        fail("BENCHMARK.json not found in the working directory")
    with open(spec_file) as fh:
        spec = json.load(fh)
    return spec["per_layer" if trace else "end_to_end"]


def main():
    # a stopped run still kills its child processes and removes its data
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="write observed answer fingerprints here")
    ap.add_argument("--spans", help="write the traced span tree here")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the root of a checkout (src/main/scala/graft not found)")
    declared = declared_metrics(args.trace)
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    classpath = build(build_dir)

    tmp = os.path.join(build_dir, f"run-{os.getpid()}")
    os.makedirs(tmp)
    cmd = java_cmd(classpath, tmp) + [
        "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--tmp", tmp,
        "--cpus", str(len(os.sched_getaffinity(0))), "--data", SF_DIR,
        "--fingerprints", os.path.join(HERE, "fingerprints.json")]
    if args.record:
        cmd += ["--record", os.path.abspath(args.record)]
    if args.spans:
        cmd += ["--spans", os.path.abspath(args.spans)]
    try:
        code, out = run_group(cmd, RUN_BUDGET_S, cwd=tmp, stdout=subprocess.PIPE)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if code is None:
        fail("run exceeded its time budget")
    lines = out.decode(errors="replace").strip().splitlines()
    if code != 0 or len(lines) < 2:
        fail(f"benchmark JVM exited with code {code}")
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    metrics = {}
    for m in declared:
        v = result["metrics"].get(m["name"])
        if v is None:
            fail(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps(detail))
    print(json.dumps({"correct": bool(result["correct"]),
                      "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
