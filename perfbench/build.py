"""Build file of the graft benchmark package.

Compiles the library's main sources (`src/main/scala`) together with the
benchmark's own sources (`perfbench/src`) with the Scala compiler that ships
inside the Spark distribution (no sbt, no dependency resolution), packs the
classes into `.bench_build/graftbench.jar`, and records a class-data archive
(`.bench_build/classes.jsa`, JDK AppCDS) from one short training run, so that
benchmark JVMs map the Spark and graft classes they load instead of parsing
and verifying them again. The build is skipped when a stamp of every source
file's path and content matches the previous build.

Usage: python3 perfbench/build.py   (prints the jar)
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD_DIR, "classes")
JAR = os.path.join(BUILD_DIR, "graftbench.jar")
ARCHIVE = os.path.join(BUILD_DIR, "classes.jsa")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")

# Spark 4 on JDK 17 outside spark-submit needs the module opens that
# spark-submit would inject (the same list as the library's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, or else the first
    distribution on PATH whose bin/ holds spark-submit next to a jars/ dir."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    for d in os.environ.get("PATH", "").split(os.pathsep):
        jars = os.path.join(os.path.dirname(os.path.realpath(d)), "jars")
        if os.path.exists(os.path.join(d, "spark-submit")) and os.path.isdir(jars):
            return jars
    raise SystemExit("Spark not found: set SPARK_HOME")


def sources_present():
    return os.path.isdir(os.path.join(LIB_SRC, "graft"))


def java_cmd(work, archive_flag):
    """The benchmark JVM, up to and including its main class. `work` is the
    run's scratch directory; `archive_flag` reads or writes the class-data
    archive (None: neither)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir;
    # MetaspaceSize: no full GC for class metadata in the middle of the loop;
    # JVM warnings go to stderr, so stdout keeps only the report
    cmd = ["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
           "-XX:MetaspaceSize=256m", "-Xlog:disable", "-Xlog:all=warning:stderr",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    if archive_flag:
        cmd.append(archive_flag)
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", JAR + os.pathsep + os.path.join(spark_jars(), "*"),
            "graftbench.Main", "--root", ROOT, "--work", work]
    return cmd


def _sources():
    files = []
    for base in (LIB_SRC, BENCH_SRC):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(files)


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _jar():
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
        for d, _, fs in sorted(os.walk(CLASSES)):
            for f in sorted(fs):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, CLASSES))


def _archive():
    """Dumps the classes a tiny sink_reread run loads. Without an archive
    the benchmark still runs, only its JVMs start slower."""
    work = os.path.join(BUILD_DIR, "work", "train")
    shutil.rmtree(work, ignore_errors=True)
    cmd = java_cmd(work, f"-XX:ArchiveClassesAtExit={ARCHIVE}") + ["--train"]
    try:
        res = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if res.returncode != 0 and os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)


def build():
    """Compile if the sources changed; return the jar."""
    if not sources_present():
        raise SystemExit("graft library sources not found under src/main/scala")
    files = _sources()
    stamp = _stamp(files)
    stamp_file = os.path.join(BUILD_DIR, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return JAR
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    for f in (JAR, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", jars] + files
    # compiler diagnostics go to stderr: stdout carries only the result
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        raise SystemExit(f"benchmark build failed (scalac exit {res.returncode})")
    _jar()
    _archive()
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return JAR


if __name__ == "__main__":
    print(build())
