#!/usr/bin/env python3
"""Run one benchmark workload from the root of a source checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout compiles the library and the benchmark with sbt
(perfbench/build.sbt) and caches the runtime classpath under
perfbench/.build, keyed by a hash of every build input; later runs start the
JVM directly. Each run gets a fresh scratch directory under perfbench/.work
(Spark's local and warehouse directories and the JVM's temp directory live
there, so nothing is written outside the checkout) and writes its record,
and with --trace 1 its spans, under perfbench/out/<workload>-seed<n>-trace<t>.

The last line of standard output is the run's result object. The exit code
is non-zero when a check failed, the run timed out or the checkout does not
hold the library's sources.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["table_churn", "dedup_search", "http_mixed"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 needs these when the session is created outside
# spark-submit; the library's own build passes the same list.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_inputs():
    """Every file whose content decides the compiled classpath."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in ("project", os.path.join("src", "main"), os.path.join("perfbench", "project"),
              os.path.join("perfbench", "src")):
        for base, dirs, names in os.walk(os.path.join(ROOT, d)):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(base, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    return files


def classpath():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the root of a checkout that holds the library's sources "
             "(build.sbt and src/main/scala/graft are missing)")
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    cache = os.path.join(HERE, ".build", f"classpath-{h.hexdigest()[:16]}.txt")
    if os.path.isfile(cache):
        with open(cache) as fh:
            return fh.read().strip()
    print("perfbench: building (first run in this checkout)", file=sys.stderr)
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    except FileNotFoundError:
        fail("sbt is not on PATH")
    lines = [ln for ln in p.stdout.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache, "w") as fh:
        fh.write(lines[-1])
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    cp = classpath()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(HERE, ".work", f"{tag}-{os.getpid()}")
    out = os.path.join(HERE, "out", tag)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           # the heap starts at the JVM's default size and grows with use, so
           # peak RSS follows what the run really needs; the 2 GB cap keeps a
           # runaway run from taking the machine's memory (past it the run
           # fails with an out-of-memory error)
           ["-Xmx2g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", os.path.join(work, "data"), "--out", out])
    log_path = os.path.join(out, "engine.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                    stderr=log, text=True)
            try:
                stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"run exceeded {RUN_TIMEOUT_S} s (engine log: {log_path})")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = stdout.rstrip("\n").splitlines()
    result = [ln for ln in lines if ln.startswith('{"correct"')]
    for ln in lines:
        if not ln.startswith('{"correct"'):
            print(ln)
    if proc.returncode not in (0, 1) or not result:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"the run ended with exit code {proc.returncode} and no result")
    print(result[-1], flush=True)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
