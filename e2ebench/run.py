#!/usr/bin/env python3
"""End-to-end job benchmark for the graft engine.

Usage, from the root of a checkout:

    python3 e2ebench/run.py --workload elt_incremental --seed 1 --seconds 15 --trace 0

Builds the engine and the benchmark with sbt on first use (or when any
source changed), then runs one workload in one JVM. The JVM prints
human-readable metric lines and, as its last stdout line, one JSON object
with the keys correct, attempted, failed and metrics. The exit code is 0
only when every output check passed. See README.md in this directory.
"""
import argparse
import hashlib
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("elt_incremental", "curate_corpus", "index_lifecycle")
# one run must end well inside 180 s; the first run may also build
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def source_files():
    """Every file whose change requires a rebuild."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(f for f in files if os.path.isfile(f))


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.log.noformat=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Returns the runtime classpath, building first when sources changed."""
    want = stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    proc = subprocess.run(
        ["sbt", "--batch", "export e2ebench/Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = [l.strip() for l in proc.stdout.splitlines()]
    cps = [l for l in lines if not l.startswith("[") and ".jar" in l]
    if proc.returncode != 0 or not cps:
        sys.stderr.write(proc.stdout[-4000:])
        sys.exit("e2ebench: build failed")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return cps[-1]


def cpus():
    return os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        sys.exit("e2ebench: engine sources not found next to " + HERE)
    classpath = build()
    run_dir = os.path.join(WORK, "run-%d" % os.getpid())
    os.makedirs(run_dir, exist_ok=True)
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += [
        # a young generation of fixed size, so every run touches the same
        # young pages, and an old generation that grows as the job's
        # promoted data needs it (capped at 2 GiB in all): the peak resident
        # set then follows the job's memory use, not the collector's
        # timing-driven sizing
        "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy", "-Xmn256m",
        "-Xms512m", "-Xmx2g", "-Dspark.ui.enabled=false",
        "-Djava.io.tmpdir=" + run_dir,
        "-cp", classpath, "e2ebench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", run_dir, "--spans", os.path.join(WORK, "spans"),
        "--cpus", cpus(),
    ]
    # set-up time counts from the JVM's launch, after any build
    cmd += ["--t0-ms", str(int(time.time() * 1000))]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        code = 124
        sys.stderr.write("e2ebench: run exceeded %d s\n" % RUN_TIMEOUT_S)
    finally:
        subprocess.run(["rm", "-rf", run_dir])
    sys.exit(code)


if __name__ == "__main__":
    main()
