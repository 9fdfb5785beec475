#!/usr/bin/env python3
"""Run one benchmark workload.

    python3 perfbench/run.py --workload ingest|dashboard|curation \
        --seed N --seconds S --trace 0|1

Builds the harness together with the program's sources (sbt, once per
source state), then runs one JVM on local[nproc]. Everything the run
writes stays under perfbench/work/. The last stdout line is the JSON
result; the exit code is non-zero if the build, an operation or a
correctness check failed.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "perfbench.classpath")
STAMP_FILE = os.path.join(TARGET, "perfbench.stamp")
WORKLOADS = ("ingest", "dashboard", "curation")
RUN_TIMEOUT_S = 175

# Spark 4 on JDK 17 outside spark-submit needs these (the list the
# program's own build passes to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as f:
            if f.read().strip() == stamp:
                with open(CLASSPATH_FILE) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")  # resolve from local caches only
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        stdin=subprocess.DEVNULL, env=env)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    classpath = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(classpath)
    with open(STAMP_FILE, "w") as f:
        f.write(stamp)
    return classpath


def opens():
    return [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(PROGRAM_SRC):
        raise SystemExit("perfbench: the program's sources (src/main/scala) are missing")
    classpath = build()

    work = os.path.join(HERE, "work", args.workload)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # No hsperfdata file: the JVM would write it outside the checkout.
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData"] + opens()
           + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
              "-Dderby.stream.error.file=" + os.path.join(work, "tmp", "derby.log"),
              "-Dspark.ui.enabled=false",
              "-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", os.path.join(work, "run"),
              "--data", os.path.join(HERE, "data")])
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    last = ""
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit("perfbench: run exceeded %d s" % RUN_TIMEOUT_S)
    for line in out.splitlines():
        if line.strip():
            last = line
    if proc.returncode != 0:
        sys.stdout.write(out)
        raise SystemExit("perfbench: run failed with exit code %d" % proc.returncode)
    json.loads(last)  # the result line must be JSON
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
