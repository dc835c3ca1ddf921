#!/usr/bin/env python3
"""Build file of the lake benchmark.

Compiles the graft library (`src/main/scala`, plus its resources) together
with the benchmark program (`perfbench/src`) into one jar with the Scala
compiler that ships in Spark's `jars` directory, so no build tool and no
download is needed. Everything goes to `.bench_build/lakebench` at the root
of the checkout and is rebuilt only when a source changes.

    python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
LIBRARY = os.path.join(ROOT, "src", "main", "scala")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(BENCH, "src")


def spark_jars():
    """The `jars` directory of the Spark distribution: `$SPARK_HOME/jars`, or
    the one beside `spark-submit` on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        sys.exit("build: no Spark distribution found (set SPARK_HOME)")
    return jars


def files_under(top, suffix=""):
    found = []
    for d, _, files in os.walk(top):
        found += [os.path.join(d, f) for f in files if f.endswith(suffix)]
    return sorted(found)


def out_dir():
    return os.path.join(ROOT, ".bench_build", "lakebench")


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java_command(jar, work):
    """The JVM command line of a run; `work` is the run's scratch directory."""
    # A fixed heap and the throughput collector: with G1's default growing
    # heap the timed pass ran about a fifth slower and its quartile spread
    # across seeds was about twice as wide (4-vCPU host).
    # -XX:-UsePerfData and the tmp dirs keep every write inside the checkout
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-Xss8m", "-Xlog:disable", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.hadoop.hadoop.tmp.dir={work}/tmp",
           "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
           "-Dspark.ui.enabled=false", "-Duser.timezone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", jar + os.pathsep + os.path.join(spark_jars(), "*"), "lakebench.Main"]


def ensure():
    """Builds if needed; returns the jar."""
    if not os.path.isdir(os.path.join(LIBRARY, "graft")):
        sys.exit(f"build: graft library sources not found under {LIBRARY}")
    srcs = files_under(LIBRARY, ".scala") + files_under(BENCH_SRC, ".scala")
    jars = spark_jars()
    digest = hashlib.sha256(jars.encode())
    for f in srcs + files_under(RESOURCES):
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    out = out_dir()
    jar = os.path.join(out, "lakebench.jar")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return jar
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    staging = os.path.join(out, "classes")
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    t0 = time.time()
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", staging, "-classpath", cp, "@" + args_file],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        sys.exit(f"build: scalac failed with code {proc.returncode}")
    if os.path.isdir(RESOURCES):
        shutil.copytree(RESOURCES, staging, dirs_exist_ok=True)
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for f in files_under(staging):
            z.write(f, os.path.relpath(f, staging))
    shutil.rmtree(staging)
    print(f"build: compiled {len(srcs)} files in {time.time() - t0:.1f} s", file=sys.stderr)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return jar


if __name__ == "__main__":
    print(ensure())
