#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and
the benchmark from source with sbt (perfbench/build.sbt) and caches the
runtime classpath under perfbench/target; later runs reuse it while the
sources are unchanged. Each run then starts one JVM (perfbench.Main)
that generates its inputs from the seed under .bench_build/, measures,
checks every output and prints the result JSON as its last line.
"""

import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SCRATCH = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BENCH, "target", "classpath.txt")
STAMP = os.path.join(BENCH, "target", "sources.sha256")
WORKLOADS = ("migrate_lake", "migrate_jdbc", "cdc_sync", "search_serve")
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 720

# Spark on JDK 17 needs these opens when it is not started by spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, relative to the checkout root."""
    files = ["build.sbt", os.path.join("perfbench", "build.sbt")]
    for base in ("project", os.path.join("perfbench", "project")):
        d = os.path.join(ROOT, base)
        if os.path.isdir(d):
            files += [os.path.join(base, f) for f in sorted(os.listdir(d))
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for base in (os.path.join("src", "main"), os.path.join("perfbench", "src")):
        for dirpath, dirnames, filenames in os.walk(os.path.join(ROOT, base)):
            dirnames.sort()
            files += [os.path.relpath(os.path.join(dirpath, f), ROOT) for f in sorted(filenames)]
    return files


def sources_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_built():
    """Builds when the sources changed since the cached build."""
    digest = sources_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return False
    os.makedirs(SCRATCH, exist_ok=True)
    log_path = os.path.join(SCRATCH, "build.log")
    tmp = os.path.join(SCRATCH, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, TMPDIR=tmp, JAVA_OPTS=f"{os.environ.get('JAVA_OPTS', '')} -Djava.io.tmpdir={tmp}".strip())
    with open(log_path, "w") as log:
        try:
            rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                                cwd=BENCH, env=env, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.exists(CLASSPATH):
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail(f"build failed (rc={rc}); log in {log_path}", 3)
    with open(STAMP, "w") as fh:
        fh.write(digest)
    return True


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail(f"no program sources next to {BENCH} (build.sbt, src/main); run from a full checkout", 2)
    started = time.monotonic()
    built = ensure_built()
    timeout = RUN_TIMEOUT_S if built else RUN_TIMEOUT_S - (time.monotonic() - started)

    work = os.path.join(SCRATCH, "run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    trace_out = os.path.join(SCRATCH, "traces", f"{args.workload}-seed{args.seed}.json")
    with open(CLASSPATH) as fh:
        classpath = fh.read().strip()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xms1g", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={os.path.join(work, 'derby')}",
           "-Dspark.callstack.depth=64",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace, "--work", work, "--trace-out", trace_out]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"), TMPDIR=tmp)
    # a SIGTERM to this script must also stop the JVM (see the except below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        rc = proc.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        rc = 124
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0:
        fail(f"{args.workload} exited with {rc}", rc if rc > 0 else 1)


if __name__ == "__main__":
    main()
