#!/usr/bin/env python3
"""Repository benchmark: builds the program and the benchmark from source
(sbt, offline), then runs one workload in a fresh JVM.

    python3 perfbench/run.py --workload service_mixed --seed 1 --seconds 30 --trace 0

Run it from the repository root. The last line of standard output is the
result JSON. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSPATH_FILE = os.path.join(HERE, "target", "bench-classpath.txt")
STAMP_FILE = os.path.join(HERE, "target", "bench-build.stamp")
WORKLOADS = ("corpus_convert", "service_mixed", "corpus_dedup")
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# C1 only: a fresh JVM measured for seconds does not reach C2's steady
# state, and C2 compiling during the window moved pass times by up to 2x
# between runs of the same inputs; C1 code settles during the set-ups.
JVM_FLAGS = ["-Xmx3g", "-XX:TieredStopAtLevel=1"]
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_stamp():
    """Hash of every file the build reads: both build definitions and
    both source trees."""
    h = hashlib.sha256()
    roots = [
        os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
        os.path.join(ROOT, "src", "main"),
        os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project"),
        os.path.join(HERE, "src", "main"),
    ]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(r)
            if "target" not in os.path.relpath(d, r).split(os.sep)
            for f in fs)
        for p in paths:
            if p.endswith((".scala", ".java", ".sbt", ".properties")) or \
                    os.path.dirname(p).endswith(os.path.join("src", "main", "resources")):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build():
    stamp = sources_stamp()
    if os.path.exists(CLASSPATH_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as f:
            if f.read().strip() == stamp:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # sbt's scratch files (server socket, file watcher) stay in the checkout
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + f" -Djava.io.tmpdir={tmp}").strip()
    print("perfbench: building the program and the benchmark (sbt)",
          file=sys.stderr)
    r = subprocess.run(["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
                        "compile", "writeBenchClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL)
    if r.returncode != 0 or not os.path.exists(CLASSPATH_FILE):
        fail("build failed")
    with open(STAMP_FILE, "w") as f:
        f.write(stamp + "\n")


def java_cmd(main, args):
    with open(CLASSPATH_FILE) as f:
        cp = f.read().strip()
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return ["java", *opens, *JVM_FLAGS, f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, main, *args]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", type=int, nargs="+", metavar="SEED",
                    help="print the recorded-digest table for these seeds")
    a = ap.parse_args()
    if not a.record and not a.workload:
        fail("--workload is required")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the program's sources are not here: run from a full checkout")
    build()
    os.makedirs(WORK, exist_ok=True)
    digests = os.path.join(HERE, "digests.txt")
    if a.record:
        cmd = java_cmd("graft.perfbench.Record", [WORK, *map(str, a.record)])
        sys.exit(subprocess.run(cmd, cwd=ROOT, stdin=subprocess.DEVNULL).returncode)
    cmd = java_cmd("graft.perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", WORK, "--digests", digests])
    try:
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                           stdin=subprocess.DEVNULL, text=True,
                           timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"benchmark did not finish within {RUN_TIMEOUT_S} s")
    lines = p.stdout.rstrip("\n").split("\n")
    if p.returncode != 0:
        sys.stdout.write("\n".join(lines[:-1] if lines[-1].startswith("{") else lines) + "\n")
        fail(f"benchmark exited with {p.returncode}")
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        sys.stdout.write(p.stdout)
        fail("no result line")
    sys.stdout.write(p.stdout)


if __name__ == "__main__":
    main()
