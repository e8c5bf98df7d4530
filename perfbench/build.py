#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (`src/main/scala`)
together with the benchmark's own JVM sources (`perfbench/src`) with the
Scala compiler that ships in Spark's jar directory, packs the classes
into `.bench_build/jvm/bench.jar`. No build tool or network access is
needed.

The build is skipped when the sources, Spark jars and JDK are unchanged
since the last one (a content hash is stored beside the jar).

Usage: python3 perfbench/build.py   (from the checkout root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

BUILD_DIR = ".bench_build"
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("build: no Spark jar directory with a Scala compiler (set SPARK_HOME)")
    return jars


def java_command(work, classpath):
    """The JVM every benchmark process runs in; all scratch files stay
    under `work` (Spark's local dirs, the warehouse, java.io.tmpdir)."""
    # the whole fixed heap is touched at start, so peak resident memory
    # does not depend on how much of it a run's garbage happened to reach
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-Xss8m",
           "-Duser.timezone=UTC",
           "-Dspark.ui.enabled=false",
           f"-Dspark.local.dir={work}/spark-local",
           f"-Dspark.sql.warehouse.dir={work}/warehouse",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={HERE}/log4j2.properties"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath]


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not engine:
        raise SystemExit("build: no engine sources under src/main/scala")
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return engine + bench


def _stamp(root, srcs, jars):
    h = hashlib.sha256()
    for p in srcs + [os.path.abspath(__file__), os.path.join(HERE, "log4j2.properties")]:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    h.update(subprocess.run(["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True).stderr.encode())
    return h.hexdigest()


def _run(cmd, what, log):
    with open(log, "w") as out:
        r = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"build: {what} failed with exit code {r.returncode}")


def build(root):
    """Returns the classpath of the engine, the benchmark and Spark."""
    root = os.path.abspath(root)
    jars = spark_jars()
    srcs = sources(root)
    stamp = _stamp(root, srcs, jars)
    out = os.path.join(root, BUILD_DIR, "jvm")
    jar = os.path.join(out, "bench.jar")
    classpath = f"{jar}:{jars}/*"
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classpath

    shutil.rmtree(out, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    _run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*",
          "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes, "@" + args_file],
         "scalac", os.path.join(out, "scalac.log"))
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for p in sorted(glob.glob(os.path.join(classes, "**/*"), recursive=True)):
            if os.path.isfile(p):
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


if __name__ == "__main__":
    print(build("."))
