#!/usr/bin/env python3
"""Build file of the benchmark package: compiles graft's main sources and the
benchmark's own sources into one jar with the Scala compiler that ships in
the Spark distribution's jars, then records a class-data-sharing archive
from one short run, so that each benchmark JVM starts
with Spark's classes already parsed (about 4 s less start-up per run on a
4-vCPU box). sbt is not used, so the timed JVM never shares a process with
a build tool.

    python3 perfbench/build.py      # prints the jar

Run from the root of a graft checkout. The output goes to
.bench_build/perfbench/ and is rebuilt only when a source changes.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars_dir():
    """Spark's jar directory: $SPARK_HOME/jars, else the directory graft's
    own build.sbt compiles against (its `unmanagedBase`)"""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        sys.exit("perfbench: set SPARK_HOME; build.sbt names no Spark jar directory")
    return m.group(1)


SPARK_JARS = spark_jars_dir()
WORKLOADS = ("point_query", "batch_scan", "ingest_merge")

# Spark 4 on JDK 17 needs these outside spark-submit
# (org.apache.spark.launcher.JavaModuleOptions)
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def jvm_options(scratch):
    """The benchmark JVM's fixed options. The JIT stops at the C1 tier: a
    benchmark JVM lives about 30 s, too short for C2 to finish on Spark's
    code, and with C2 on, 18 s of compile time landed inside a 10 s timed
    phase on a 4-vCPU box, where the compiler threads competed with the
    workload for the cores. The compiler threads are a fixed set, so that
    none ends while a run subtracts their CPU time from the process's."""
    return (["-Xmx3g", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
             "-XX:-UseDynamicNumberOfCompilerThreads",
             "-Djava.io.tmpdir=" + os.path.join(scratch, "tmp"),
             "-Dlog4j2.configurationFile=" + os.path.join(ROOT, "perfbench",
                                                          "log4j2.properties"),
             "-Dspark.ui.enabled=false"]
            + ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in OPENS])


def sources():
    """graft's main sources and the benchmark's, sorted; exits when the
    checkout holds no graft sources"""
    found = []
    for top in ("src/main/scala", "perfbench/src"):
        base = os.path.join(ROOT, top)
        if not os.path.isdir(base):
            sys.exit(f"perfbench: {top} is missing; run from a graft checkout")
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def spark_jars():
    return sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))


def classpath(jar):
    """the benchmark jar, then Spark's jars in a fixed order: the archive
    is valid only for the class path it was recorded with"""
    return os.pathsep.join([jar] + spark_jars())


def compile_cmd(classes, srcs):
    cp = os.path.join(SPARK_JARS, "*")
    return ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
            "-nowarn", "-d", classes, "-classpath", cp] + srcs


def train(jar, archive):
    """Records the class-data archive from one short traced run of
    ingest_merge, the workload whose path (build, open, search, append,
    merge, deletes) loads nearly every class the others do."""
    scratch = tempfile.mkdtemp(prefix="train-", dir=os.path.join(ROOT, ".bench_build"))
    try:
        os.makedirs(os.path.join(scratch, "tmp"))
        print("perfbench: recording the class-data archive", file=sys.stderr)
        r = subprocess.run(["java", "-XX:ArchiveClassesAtExit=" + archive, "-Xlog:cds=off",
                            "-Xlog:cds+dynamic=off"] + jvm_options(scratch) +
                           ["-cp", classpath(jar), "graft.perfbench.Main",
                            "--workload", "ingest_merge", "--seed", "1",
                            "--seconds", "1", "--trace", "1", "--dir", scratch],
                           stdout=subprocess.DEVNULL, cwd=scratch)
        if r.returncode != 0:
            sys.exit("perfbench: training run failed")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def ensure():
    """the benchmark jar and its class-data archive, built from the current
    sources"""
    if not os.path.isdir(SPARK_JARS):
        sys.exit(f"perfbench: no Spark jars at {SPARK_JARS}")
    srcs = sources()
    h = hashlib.sha256(" ".join(compile_cmd("", []) + jvm_options("") + spark_jars()).encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    jar = os.path.join(OUT, "graft-perfbench.jar")
    archive = os.path.join(OUT, "classes.jsa")
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.isfile(jar) and os.path.isfile(archive) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return jar, archive
    shutil.rmtree(OUT, ignore_errors=True)
    classes = os.path.join(OUT, "classes")
    os.makedirs(classes)
    print("perfbench: compiling %d sources" % len(srcs), file=sys.stderr)
    r = subprocess.run(compile_cmd(classes, srcs), stdout=sys.stderr)
    if r.returncode != 0:
        sys.exit("perfbench: compile failed")
    r = subprocess.run(["jar", "cf", jar, "-C", classes, "."], stdout=sys.stderr)
    if r.returncode != 0:
        sys.exit("perfbench: jar failed")
    train(jar, archive)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return jar, archive


if __name__ == "__main__":
    print(ensure()[0])
