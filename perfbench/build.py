#!/usr/bin/env python3
"""Build file of the crawl-lifecycle benchmark.

Compiles the program (src/main/scala) together with the benchmark's own
sources (perfbench/src) with the Scala compiler that ships in Spark's jar
directory, packs the classes into one jar, and records a class-data-sharing
archive of a short training run so that every benchmark JVM starts Spark
from the archive. Everything lands in .bench_build/perfbench under the
checkout; a stamp over the sources skips the build when nothing changed.

    python3 perfbench/build.py          # build if needed, print the jar path
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
JAR = os.path.join(OUT, "perfbench.jar")
CDS = os.path.join(OUT, "classes.jsa")
STAMP = os.path.join(OUT, "stamp")

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
]


class BuildError(Exception):
    pass


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else ""
    return exe if exe and os.path.exists(exe) else "java"


def spark_home():
    """SPARK_HOME, else the installation whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if home:
        return home
    submit = shutil.which("spark-submit")
    if submit is None:
        raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def spark_jars():
    jars_dir = os.path.join(spark_home(), "jars")
    if not os.path.isdir(jars_dir):
        raise BuildError("Spark jars not found in %s (set SPARK_HOME)" % jars_dir)
    return sorted(os.path.join(jars_dir, j) for j in os.listdir(jars_dir) if j.endswith(".jar"))


def sources():
    out = []
    for d in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        if not os.path.isdir(d):
            raise BuildError("source directory %s is missing" % d)
        for base, _, files in os.walk(d):
            out.extend(os.path.join(base, f) for f in files if f.endswith(".scala"))
    return sorted(out)


def jvm_flags():
    # no hsperfdata files under /tmp: a run writes only inside its checkout
    flags = ["-XX:-UsePerfData"]
    for o in ADD_OPENS:
        flags += ["--add-opens", o]
    return flags


def classpath():
    return os.pathsep.join([JAR] + spark_jars())


def _stamp(srcs, jars):
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()


def _compile(srcs, jars):
    classes = os.path.join(OUT, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(OUT, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join('"%s"' % s for s in srcs))
    cp = os.pathsep.join(jars)
    cmd = [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-6000:])
        raise BuildError("scalac failed")
    tmp = JAR + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        z.writestr("META-INF/MANIFEST.MF", "Manifest-Version: 1.0\n")
        for base, _, files in os.walk(classes):
            for f in sorted(files):
                p = os.path.join(base, f)
                z.write(p, os.path.relpath(p, classes))
    os.replace(tmp, JAR)
    shutil.rmtree(classes, ignore_errors=True)


def _train_cds():
    """Record the classes a short run loads into a shared archive."""
    work = os.path.join(OUT, "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = [java()] + jvm_flags() + [
        "-Xmx2g", "-XX:ArchiveClassesAtExit=" + CDS,
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-cp", classpath(), "perfbench.Main", "--workload", "heavy_pages",
        "--seed", "0", "--trace", "0", "--scale", "0.1",
        "--work-dir", work]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                       env=clean_env(), timeout=600)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(CDS):
        # every measured run starts from the archive (it is part of setup_s),
        # so a build without it is a failed build, not a slower one
        sys.stderr.write(r.stderr[-4000:])
        if os.path.exists(CDS):
            os.remove(CDS)
        raise BuildError("class-data archive not created")


def clean_env():
    """The program's environment knobs (GRAFT_*) never reach the benchmark."""
    return {k: v for k, v in os.environ.items() if not k.startswith("GRAFT_")}


def ensure():
    """Build when the sources changed; return the jar path."""
    srcs = sources()
    jars = spark_jars()
    stamp = _stamp(srcs, jars)
    if all(os.path.exists(p) for p in (JAR, CDS, STAMP)):
        with open(STAMP) as f:
            if f.read() == stamp:
                return JAR
    os.makedirs(OUT, exist_ok=True)
    if os.path.exists(STAMP):
        os.remove(STAMP)
    sys.stderr.write("[perfbench] compiling %d sources\n" % len(srcs))
    _compile(srcs, jars)
    if os.path.exists(CDS):
        os.remove(CDS)
    sys.stderr.write("[perfbench] recording class-data archive\n")
    _train_cds()
    with open(STAMP, "w") as f:
        f.write(stamp)
    return JAR


if __name__ == "__main__":
    try:
        print(ensure())
    except BuildError as e:
        sys.stderr.write("[perfbench] build failed: %s\n" % e)
        sys.exit(1)
