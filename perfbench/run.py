#!/usr/bin/env python3
"""Benchmark entry point for the traceframe engine.

Usage (from any working directory):

    python3 perfbench/run.py --workload trace-ingest --seed 1 \
        --seconds 8 --trace 0

Builds the engine and the harness from source with sbt (once per source
state, cached under perfbench/target), then runs the harness JVM
(graft.perfbench.Main) for one workload. The harness prints one JSON
result line last; this script relays it and exits with the harness's
exit code. With no engine sources next to it, or on any failed output
check, it exits non-zero without a result line. With --trace 1 it runs
the harness twice, untraced and then traced, and prints the traced
run's per-layer result.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKLOADS = ("trace-ingest", "store-churn")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# A fixed heap (-Xms = -Xmx), so G1 never resizes it between the
# harness's forced collections and the ops that follow them.
HEAP = "2g"
# JIT tiers per workload. store-churn is driver-bound, about 130 small
# jobs an op: with C2 its op time was still falling four ops after the
# warm-up, so the one timed op depended on how far C2 had got. With C1
# alone op time is flat from the first op after the warm-up, at the
# speed C2 reaches in the timed window (perfbench/README.md, JIT tiers).
# C1 alone also shrinks the default code cache from 240 MB to 48 MB,
# which Spark's generated classes overflow, so the size is set back.
# trace-ingest runs generated code in its tasks, where C2 halves op
# time, so it keeps both tiers.
JIT = {"trace-ingest": [],
       "store-churn": ["-XX:TieredStopAtLevel=1",
                       "-XX:ReservedCodeCacheSize=240m"]}


# Spark on JDK 17 needs these when the session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every input of the build, so a changed source rebuilds."""
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(REPO, "build.sbt"),
             os.path.join(REPO, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        for dirpath, dirnames, names in os.walk(root):
            dirnames.sort()
            files.extend(os.path.join(dirpath, n) for n in sorted(names))
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}",
                     "-Dsbt.offline=true"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile engine + harness if the sources changed; return classpath."""
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp_file = os.path.join(target, "source.sha256")
    digest = source_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as cf:
                    return cf.read().strip()
    print("perfbench: building engine and harness with sbt", file=sys.stderr)
    try:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
            cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    except FileNotFoundError:
        fail("sbt not found on PATH")
    if proc.returncode != 0 or not os.path.exists(cp_file):
        sys.stderr.write(proc.stdout.decode(errors="replace")[-4000:])
        fail("build failed")
    with open(stamp_file, "w") as fh:
        fh.write(digest + "\n")
    with open(cp_file) as cf:
        return cf.read().strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(REPO, "build.sbt")) and
            os.path.isdir(os.path.join(REPO, "src", "main", "scala",
                                       "graft"))):
        fail(f"engine sources not found next to {HERE}")
    classpath = build()

    deadline = time.monotonic() + RUN_TIMEOUT_S
    if args.trace:
        # the tracing overhead compares against an untraced run of the
        # same workload and seed, each in its own JVM with the same warm-up
        untraced = harness(classpath, args, deadline, [])
        tp = json.loads(untraced.splitlines()[-1])["metrics"]
        text = harness(classpath, args, deadline, [
            "--untraced-throughput", repr(tp["throughput_per_s"]["value"])])
    else:
        text = harness(classpath, args, deadline, [])
    sys.stdout.write(text)
    sys.stdout.flush()


def harness(classpath, args, deadline, extra):
    """Run the harness JVM once; return its stdout or fail."""
    work = os.path.join(HERE, ".work", args.workload)
    tmp = os.path.join(HERE, ".work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    log_conf = os.path.join(HERE, "log4j2.properties")
    trace = "1" if extra else "0"
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"] + JIT[args.workload] +
           [f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={log_conf}",
            "-Dspark.ui.enabled=false"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", classpath, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", trace,
            "--work", work, "--cpus", str(len(os.sched_getaffinity(0))),
            "--heap", HEAP] + extra)
    proc = subprocess.Popen(cmd, cwd=HERE, stdout=subprocess.PIPE)
    try:
        out, _ = proc.communicate(timeout=max(1, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    text = out.decode(errors="replace")
    if proc.returncode != 0 or not text.strip():
        sys.stderr.write(text)
        fail(f"harness exited with code {proc.returncode}")
    return text


if __name__ == "__main__":
    main()
