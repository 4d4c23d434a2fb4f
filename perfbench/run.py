#!/usr/bin/env python3
"""Per-change benchmark of graft: daily_load, table_rw and curation.

Usage (from the checkout root):

    python3 perfbench/run.py --workload daily_load --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

The first call builds graft's sources together with the harness in
perfbench/ (sbt, offline); later calls reuse the build while the sources
are unchanged. Each run stages everything it writes under
perfbench/.run/<id>/ and deletes it afterwards.

The last stdout line is the result: {"correct", "attempted", "failed",
"metrics"}; with --trace 0 the metrics are BENCHMARK.json's end_to_end
set, with --trace 1 its per_layer set (a layer a workload never enters
reports 0). The line before it holds the full record: every workload
metric, setup breakdown, input sizes and hash, machine regime and the
calibration probe. Exit status is 0 only when every check passed.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 880

# Fixed on both sides of a comparison. The code-cache flags are graft.Bench's
# fix for interpreted-mode spikes; the add-opens are what spark-submit injects.
JVM_FLAGS = [
    "-Xmx2g",
    "-XX:ReservedCodeCacheSize=2g",
    "-XX:+UseCodeCacheFlushing",
    "-XX:-DontCompileHugeMethods",
    "-XX:CICompilerCount=12",
    "-Duser.timezone=UTC",
    "-Dspark.ui.enabled=false",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail("no Spark install found (set SPARK_HOME)")
    return jars


def source_stamp():
    """Hash of every input of the build."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_child(cmd, cwd, limit_s, log_path):
    """Run cmd in its own process group; kill the group at the limit."""
    with open(log_path, "ab") as log:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=max(1, limit_s))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def tail(path, n=40):
    try:
        with open(path, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])
    except OSError:
        return ""


def build(jars, stamp, log_path, limit_s):
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return False
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt not found on PATH")
    cmd = [sbt, "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "-Dperfbench.sparkJars=" + jars, "compile"]
    rc = run_child(cmd, HERE, limit_s, log_path)
    if rc != 0:
        fail("build failed (rc=%s):\n%s" % (rc, tail(log_path)), 3)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return True


def main():
    t0 = time.monotonic()
    # a terminated run still stops its JVM and removes its staging dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["daily_load", "table_rw", "curation"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="only check that every correctness check rejects a corrupted answer")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft sources (src/main/scala/graft) not found next to perfbench/")
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found")
    with open(spec_path) as fh:
        spec = json.load(fh)

    jars = spark_jars()
    stamp = source_stamp()
    run_dir = os.path.join(HERE, ".run", "%d-%s" % (os.getpid(), a.workload or "selftest"))
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    log_path = os.path.join(run_dir, "log.txt")
    try:
        built = build(jars, stamp, log_path, BUILD_LIMIT_S)
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
            if os.environ.get("JAVA_HOME") else "java"
        cp = CLASSES + os.pathsep + os.path.join(jars, "*")
        flags = JVM_FLAGS + ["-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
                             "-Dderby.system.home=" + run_dir]
        limit = (BUILD_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - t0)
        if a.selftest:
            rc = run_child([java] + flags + ["-cp", cp, "perfbench.Main", "--selftest"],
                           run_dir, limit, log_path)
            print(tail(log_path, 5).strip().splitlines()[-1] if rc is not None else "timeout")
            sys.exit(0 if rc == 0 else 1)
        out = os.path.join(run_dir, "result.json")
        cmd = [java] + flags + ["-cp", cp, "perfbench.Main",
                                "--workload", a.workload, "--seed", str(a.seed),
                                "--seconds", str(a.seconds), "--trace", str(a.trace),
                                "--root", run_dir, "--out", out, "--code", stamp[:16]]
        rc = run_child(cmd, run_dir, limit, log_path)
        if rc != 0 or not os.path.exists(out):
            fail("workload run failed (rc=%s):\n%s" % (rc, tail(log_path)), 4)
        with open(out) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        parent = os.path.dirname(run_dir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    got = res["per_layer"] if a.trace else res["end_to_end"]
    metrics, correct = {}, bool(res["correct"])
    for m in wanted:
        v = got.get(m["name"], 0.0 if a.trace else None)
        if v is None or (isinstance(v, float) and not math.isfinite(v)):
            res.setdefault("problems", []).append("metric %s missing" % m["name"])
            correct, v = False, 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    res["wall_s"] = time.monotonic() - t0
    print(json.dumps({"record": res}, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    for p in res.get("problems", []):
        print("perfbench: " + p, file=sys.stderr)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
