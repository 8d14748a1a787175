#!/usr/bin/env python3
"""openEO service benchmark: entry point.

    python3 servicebench/run.py --workload small_requests --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds the engine and the benchmark with
servicebench/build.sh when their sources changed, then runs one measurement
in a fresh JVM (servicebench.Main). Everything the run writes stays under
servicebench/.work (removed afterwards) and servicebench/out (JVM log,
result record, spans). The last line of standard output is the result JSON.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORKLOADS = ("small_requests", "zonal_stats")
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170
HEAP = "2g"

# Spark on JDK 17 outside spark-submit needs the module opens that
# spark-submit normally injects (the engine's build.sbt passes the same).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"servicebench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_fingerprint():
    h = hashlib.sha1()
    dirs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sh")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def ensure_built():
    stamp = os.path.join(BUILD, "stamp")
    fp = source_fingerprint()
    if os.path.exists(stamp) and open(stamp).read() == fp:
        return
    os.makedirs(BUILD, exist_ok=True)
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh")], cwd=ROOT,
                       stdout=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        fail(f"build failed with exit code {r.returncode}")
    with open(stamp, "w") as f:
        f.write(fp)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "api", "Server.scala")):
        fail("engine sources not found; run from a checkout of the repository")
    ensure_built()
    spark_home = open(os.path.join(BUILD, "spark_home")).read().strip()

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    out = os.path.join(HERE, "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # a fixed, pre-touched heap and the throughput collector: heap resizing
    # and concurrent GC threads competing with Spark's task threads made
    # run-to-run times wander. Fixed survivor spaces and a tenuring
    # threshold of 15 keep a request's short-lived objects out of the old
    # generation, so the heap in use after a collection (the memory
    # metric) holds live data rather than promoted garbage.
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
           "-XX:SurvivorRatio=4", "-XX:InitialTenuringThreshold=15",
           "-XX:MaxTenuringThreshold=15", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={HERE}/log4j2.properties"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{BUILD}/classes:{spark_home}/jars/*", "servicebench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--out", out]
    tag = f"{a.workload}-{a.seed}-{a.trace}"
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(os.path.join(out, f"{tag}.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                                stderr=log, text=True, env=env,
                                start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"run exceeded {RUN_TIMEOUT_S} s; see servicebench/out/{tag}.log")
    shutil.rmtree(work, ignore_errors=True)
    lines = stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stdout.write(stdout)
        fail(f"run failed with exit code {proc.returncode}; see servicebench/out/{tag}.log")
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    sys.stdout.write(stdout)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
