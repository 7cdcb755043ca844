#!/usr/bin/env python3
"""Serving benchmark for the vector store.

Builds the engine from this checkout's sources together with the benchmark
code (an sbt build in this directory), then runs one workload in one JVM
and prints the result as one JSON object on the last line of stdout. The
report (every metric with unit and sample count, and any failed check)
goes to stderr.

    python3 perfbench/run.py --workload knn-read --seed 1 --seconds 12 --trace 0

Workloads: knn-read, write-mix. --trace 1 runs the per-layer record
and writes span JSON lines under perfbench/.work/.
"""
import argparse
import hashlib
import json
import os
import pathlib
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
WORKLOADS = ("knn-read", "write-mix")

# JDK 17 needs these for Spark outside spark-submit (the engine's build
# passes the same list to its forked runs).
ADD_OPENS = [
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


def source_stamp():
    """Hash of every input of the build, so an edit forces a rebuild."""
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ENGINE_SRC, HERE / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt once per source state; returns the runtime classpath."""
    stamp = source_stamp()
    cp_file, stamp_file = WORK / "classpath.txt", WORK / "classpath.stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"]
    try:
        proc = subprocess.run(cmd, cwd=HERE, stdin=subprocess.DEVNULL,
                              stdout=subprocess.PIPE, stderr=sys.stderr,
                              text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l.strip() for l in proc.stdout.splitlines() if l.strip()]
    sys.stderr.write("\n".join(lines[-20:]) + "\n")
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed (sbt exit {proc.returncode})")
    classpath = lines[-1]
    cp_file.write_text(classpath)
    stamp_file.write_text(stamp)
    return classpath


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    if not ENGINE_SRC.is_dir():
        fail(f"engine sources not found at {ENGINE_SRC.relative_to(ROOT)}; "
             "run from a checkout of the repository")
    if "SPARK_HOME" not in os.environ:
        fail("SPARK_HOME must name the Spark installation")
    WORK.mkdir(exist_ok=True)
    (WORK / "tmp").mkdir(exist_ok=True)
    classpath = build()

    # each run starts from an empty work dir (persist root, spans)
    run_work = WORK / f"{args.workload}-{args.seed}-{args.trace}"
    shutil.rmtree(run_work, ignore_errors=True)
    cmd = ["java", *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Xmx3g", f"-Djava.io.tmpdir={WORK / 'tmp'}",
           "-Dspark.ui.enabled=false", "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", args.trace,
           "--work", str(run_work)]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"benchmark exited with {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
