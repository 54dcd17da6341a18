#!/usr/bin/env python3
"""Layer-by-layer benchmark of the extraction and curation engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload extract_cpu --seed 1 --seconds 8 --trace 0

Builds the product and the harness from source on first use (sbt, into
`target/` and `perfbench/target/`), then runs one workload in a fresh JVM
at local[nproc]. With --trace 0 the last line of standard output is one
JSON object with the end-to-end metrics; with --trace 1 it carries the
per-layer metrics, and the spans go to `perfbench/traces/`. Exits 1 when
an output check fails, 2 when the run could not be made.
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
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "build.stamp")
CDS = os.path.join(TARGET, "classes.jsa")

WORKLOADS = ["extract_cpu", "curate_release"]
BUILD_TIMEOUT_S = 850
RUN_LIMIT_S = 170
HEAP = "3g"
GOLDEN = os.path.join(ROOT, "fixtures", "golden.json")

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def bounded(cmd, limit, **kw):
    """Runs `cmd` in its own process group and waits for it; past `limit`
    seconds kills the whole group, waits for it, and gives up."""
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None, None
    return proc.returncode, out


def source_files():
    """Every file the build reads, product and harness."""
    files = []
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in ("build.sbt", "project/build.properties",
              "perfbench/build.sbt", "perfbench/project/build.properties"):
        files.append(os.path.join(ROOT, f))
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles product and harness unless the last build saw the same sources."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no product sources (build.sbt, src/main/scala) next to perfbench/")
    want = stamp()
    if os.path.isfile(STAMP) and os.path.isfile(CLASSPATH):
        with open(STAMP) as fh:
            if fh.read().strip() == want:
                return
    t0 = time.time()
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    rc, _ = bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                    BUILD_TIMEOUT_S, cwd=HERE, stdout=sys.stderr, stderr=sys.stderr)
    if rc is None:
        fail(f"build exceeded {BUILD_TIMEOUT_S} s")
    if rc != 0 or not os.path.isfile(CLASSPATH):
        fail(f"build failed (sbt exit {rc})")
    record_class_archive(BUILD_TIMEOUT_S - (time.time() - t0))
    with open(STAMP, "w") as fh:
        fh.write(want)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def record_class_archive(limit):
    """Runs the flagship once, small, and keeps the classes it loaded as a
    class-data-sharing archive: every later JVM maps them instead of
    loading them from ~300 jars, which halves session start on a 4-vCPU host.
    """
    if os.path.exists(CDS):
        os.remove(CDS)
    work = os.path.join(HERE, "work", "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        rc, _ = bounded(
            jvm_cmd(work, [f"-XX:ArchiveClassesAtExit={CDS}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"])
            + ["--workload", "train", "--seed", "1", "--seconds", "0", "--trace", "0",
               "--work-dir", work, "--trace-out", os.path.join(work, "trace.jsonl"),
               "--golden", GOLDEN, "--launched-ms", str(int(time.time() * 1000))],
            limit, cwd=ROOT, env=jvm_env(work),
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc is None:
        fail("class archive run exceeded the build time limit")
    if rc != 0 or not os.path.isfile(CDS):
        fail(f"class archive run failed (exit {rc})")


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.isfile(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    return "java"


def jvm_env(work):
    """Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; pin it inside
    the run's work directory."""
    return dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))


def jvm_cmd(work, extra):
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no hsperfdata file under /tmp: the run writes only inside its checkout
    cmd = [java_bin(), f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"] + extra
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "perfbench.Main"]


def run_jvm(args, work, trace_out, started):
    cmd = jvm_cmd(work, [f"-XX:SharedArchiveFile={CDS}", "-Xlog:cds=off"]) + [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work-dir", work, "--trace-out", trace_out, "--golden", GOLDEN]
    log_path = os.path.join(HERE, "logs", f"{args.workload}-seed{args.seed}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    with open(log_path, "w") as log:
        launched_ms = int(time.time() * 1000)
        rc, out = bounded(cmd + ["--launched-ms", str(launched_ms)],
                          max(10.0, RUN_LIMIT_S - (time.time() - started)),
                          cwd=ROOT, env=jvm_env(work), stdout=subprocess.PIPE,
                          stderr=log, text=True)
    if rc is None:
        tail(log_path)
        fail("run exceeded its time limit")
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if rc != 0 or not lines:
        tail(log_path)
        fail(f"JVM exit {rc}, no result line")
    return json.loads(lines[-1])


def tail(path, n=40):
    try:
        with open(path) as fh:
            sys.stderr.writelines(fh.readlines()[-n:])
    except OSError:
        pass


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    build()
    started = time.time()
    work = os.path.join(HERE, "work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    trace_out = os.path.join(HERE, "traces", f"{args.workload}-seed{args.seed}.jsonl")
    try:
        res = run_jvm(args, work, trace_out, started)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for k, v in res["metrics"].items():
        print(f"{k:28s} {v['value']:>16.6g} {v['unit']}")
    meta = res.get("meta", {})
    print(f"{'mismatch_docs':28s} {meta.get('mismatch_docs', 0):>16} docs")
    print(f"{'failed_frac':28s} {meta.get('failed_frac', 0):>16.6g} ratio")
    for p in res.get("problems", []):
        print(f"PROBLEM: {p}")
    print("meta " + json.dumps(meta, sort_keys=True))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
