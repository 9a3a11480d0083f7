#!/usr/bin/env python3
"""Build and run graft's workload benchmark.

    python3 perfbench/run.py --workload fcs-etl --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run builds: it
compiles graft (`src/main/scala`) together with the benchmark
(`perfbench/src`) with the Scala compiler that ships in Spark's jar
directory (`$SPARK_HOME/jars`, else the jars of the installed `pyspark`
package) into `.bench_build/perfbench.jar`. Later runs reuse the jar
while the sources are unchanged. The
benchmark itself runs in one JVM (`perfbench.Main`), which writes its
result object to a file; this script prints that object as the last
line of standard output.

`--smoke` shrinks every input to a tiny size (the benchmark's own
tests use it). See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import zipfile

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
JAR = os.path.join(BUILD, "perfbench.jar")
STAMP = os.path.join(BUILD, "build.sha256")
SOURCE_DIRS = [os.path.join("src", "main", "scala"),
               os.path.join("src", "main", "resources"),
               os.path.join("perfbench", "src")]
WORKLOADS = ("fcs-etl", "table-dml")
# JVM start, three data set-ups and the warm-up take 20-35 s; a traced
# run then repeats set-up and warm-up and adds fixed traced work (the
# corpus passes, the 1-core passes). Generous, so that a slow host
# still finishes; the allowance only stops a JVM that hangs.
BASE_TIMEOUT_S = 120
TRACED_TIMEOUT_S = 240

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (the same list as the graft build's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        import pyspark
        d = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        if os.path.isdir(d):
            return d
    except ImportError:
        pass
    fail("no Spark jars: set SPARK_HOME or install pyspark")


def source_files():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            fail(f"missing {d}: run from the root of a graft checkout")
        for base, _, names in os.walk(d):
            out.extend(os.path.join(base, n) for n in names)
    return sorted(out)


def build(jars):
    files = source_files()
    h = hashlib.sha256()
    # classes compiled against one Spark release must not run on another
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    for f in (STAMP, JAR):
        if os.path.exists(f):
            os.remove(f)
    classes = os.path.join(BUILD, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    scala = [f for f in files if f.endswith(".scala")]
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(scala) + "\n")
    print(f"perfbench: compiling {len(scala)} Scala files", file=sys.stderr)
    r = subprocess.run(
        ["java", "-Xmx3g", "-Xss16m", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
         "-d", classes, "@" + argfile],
        stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        fail("compile failed", 1)
    shutil.copytree(os.path.join("src", "main", "resources"), classes, dirs_exist_ok=True)
    with zipfile.ZipFile(JAR, "w") as z:
        for base, _, names in os.walk(classes):
            for n in sorted(names):
                p = os.path.join(base, n)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)
    with open(STAMP, "w") as fh:
        fh.write(digest)


def driver_mem():
    """Half the host's memory in GB, clamped to 2..8 (graft's tier-1 rule)."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
                    return f"{min(max(g, 2), 8)}g"
    except OSError:
        pass
    return "2g"


def run_jvm(jars, args, timeout):
    """Run perfbench.Main in its own JVM and work directory; its exit code."""
    tmp = os.path.join(BUILD, "tmp")
    work = os.path.join(BUILD, "work", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    mem = driver_mem()
    # A fixed heap: letting G1 grow it from the default initial size made
    # statement latencies vary by a fifth between runs.
    cmd = (["java", f"-Xms{mem}", f"-Xmx{mem}", "-Xss4m", "-Xlog:disable",
            f"-Djava.io.tmpdir={tmp}",
            "-Dlog4j2.configurationFile=" + os.path.join(ROOT, "perfbench", "log4j2.properties"),
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", JAR + os.pathsep + os.path.join(jars, "*"), "perfbench.Main"]
           + args + ["--cores", str(os.cpu_count() or 1), "--work", work])
    proc = subprocess.Popen(cmd, start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, 9)
        proc.wait()
        fail(f"benchmark JVM exceeded {timeout}s", 3)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, one set-up (tests)")
    a = ap.parse_args()

    jars = spark_jars()
    os.makedirs(BUILD, exist_ok=True)
    build(jars)

    out = os.path.join(BUILD, "out")
    os.makedirs(out, exist_ok=True)
    result = os.path.join(out, f"result-{os.getpid()}.json")
    # the loop runs whole operations, so it may overrun --seconds by one;
    # a traced run measures the loop once untraced and then its traced work
    timeout = (TRACED_TIMEOUT_S if a.trace else BASE_TIMEOUT_S) + 2 * a.seconds
    code = run_jvm(jars,
                   ["--workload", a.workload, "--seed", str(a.seed),
                    "--seconds", str(a.seconds), "--trace", str(a.trace),
                    "--smoke", "1" if a.smoke else "0", "--out", result],
                   timeout)
    if code != 0 or not os.path.exists(result):
        fail(f"benchmark JVM exited with {code}", 1)
    with open(result) as fh:
        obj = json.load(fh)
    os.remove(result)
    sys.stdout.flush()
    print(json.dumps(obj, separators=(", ", ": ")))
    sys.exit(0)


if __name__ == "__main__":
    main()
