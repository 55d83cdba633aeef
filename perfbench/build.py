#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine sources (`src/main/scala`) together with the
benchmark's own sources (`perfbench/src/main/scala`) with the Scala 2.13
compiler that ships in Spark's jar directory, into `.bench_build/` at the
checkout root: the engine first, then the benchmark against it. A stamp
over each stage's input files skips that stage when nothing changed. The
classes are then packed into jars and a short training run of the
listed workloads dumps a class-data archive that every run starts from; the
build fails when the archive cannot be made. Nothing outside the checkout
is written.

Usage: python3 perfbench/build.py
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
OUT = os.path.join(ROOT, ".bench_build")
ENGINE_CLASSES = os.path.join(OUT, "engine-classes")
BENCH_CLASSES = os.path.join(OUT, "bench-classes")
ENGINE_JAR = os.path.join(OUT, "engine.jar")
BENCH_JAR = os.path.join(OUT, "bench.jar")
# class-data archive of a training run: cuts JVM and session start of
# every run by about four seconds on a 4-core host (class loading, not
# steady-state speed). Required: run.py starts every JVM with -Xshare:on.
CDS_ARCHIVE = os.path.join(OUT, "classes.jsa")
# the workloads BENCHMARK.json lists; the training run covers these
TRAINED_WORKLOADS = ("etl_records", "table_ingest")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(BENCH_DIR, "src", "main", "scala")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    found = shutil.which("java")
    if not found:
        raise BuildError("java not found: set JAVA_HOME or put java on PATH")
    return found


def _files(top, suffixes):
    out = []
    for d, _, names in os.walk(top):
        out += [os.path.join(d, n) for n in names if n.endswith(suffixes)]
    return sorted(out)


def engine_sources():
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise BuildError("engine sources missing: %s must hold the graft package"
                         % os.path.relpath(ENGINE_SRC, ROOT))
    return _files(ENGINE_SRC, (".scala", ".java"))


def bench_sources():
    return _files(BENCH_SRC, (".scala",))


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    return os.pathsep.join([BENCH_JAR, ENGINE_JAR, os.path.join(spark_jars(), "*")])


def jvm_options(tmp):
    """Options of every benchmark JVM (the module openings Spark 4 needs on
    JDK 17 outside spark-submit, UTC, JVM logging on stderr). Temporary
    files go to `tmp`, which this creates, and no perf-data file is kept:
    nothing is written outside the checkout."""
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Xmx3g", "-Xss4m", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
            "-Xlog:disable", "-Xlog:all=error:stderr", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + tmp]
    for p in ADD_OPENS:
        opts += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    return opts


ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def _jar(classes, jar):
    tmp = jar + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for d, _, names in sorted(os.walk(classes)):
            for n in sorted(names):
                f = os.path.join(d, n)
                z.write(f, os.path.relpath(f, classes))
    os.replace(tmp, jar)


def _train(stamp):
    """Dump the class-data archive from a training run of the listed
    workloads. The JVM refuses an archive whose jars changed since, so the
    stamp covers the jars' sizes and times too."""
    for jar in (ENGINE_JAR, BENCH_JAR):
        st = os.stat(jar)
        stamp += " %d:%d" % (st.st_size, st.st_mtime_ns)
    stamp_file = CDS_ARCHIVE + ".stamp"
    if os.path.exists(stamp_file) and os.path.exists(CDS_ARCHIVE):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return
    for f in (CDS_ARCHIVE, stamp_file):
        if os.path.exists(f):
            os.remove(f)
    scratch = os.path.join(OUT, "train")
    shutil.rmtree(scratch, ignore_errors=True)
    cmd = [java_bin()] + jvm_options(os.path.join(scratch, "tmp")) + [
        "-XX:ArchiveClassesAtExit=" + CDS_ARCHIVE, "-cp", classpath(),
        "graftbench.Train", scratch] + list(TRAINED_WORKLOADS)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, cwd=ROOT)
    shutil.rmtree(scratch, ignore_errors=True)
    if proc.returncode != 0 or not os.path.exists(CDS_ARCHIVE):
        sys.stderr.write(proc.stdout[-4000:])
        raise BuildError("training run failed with code %d: no class-data archive"
                         % proc.returncode)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")


def _compile(files, out, stamp_file, stamp, extra_cp=()):
    """scalac `files` into `out` unless `stamp_file` already holds `stamp`."""
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return False
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cp = os.pathsep.join(list(extra_cp) + [os.path.join(spark_jars(), "*")])
    argfile = out + ".sources"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = [java_bin(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + OUT,
           "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", cp,
           "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-8000:])
        raise BuildError("scalac failed with code %d" % proc.returncode)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    return True


def build():
    """Compile the engine, then the benchmark against it, each only when its
    inputs changed; return the hash of all sources. One build at a time in
    a checkout: a second waits for the first."""
    engine = engine_sources()
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return _build(engine)


def _build(engine):
    engine_stamp = source_hash(engine + [os.path.abspath(__file__)])
    if _compile(engine, ENGINE_CLASSES, ENGINE_CLASSES + ".stamp", engine_stamp) \
            or not os.path.exists(ENGINE_JAR):
        if os.path.isdir(ENGINE_RES):
            shutil.copytree(ENGINE_RES, ENGINE_CLASSES, dirs_exist_ok=True)
        _jar(ENGINE_CLASSES, ENGINE_JAR)
    bench_stamp = source_hash(bench_sources()) + "+" + engine_stamp
    if _compile(bench_sources(), BENCH_CLASSES, BENCH_CLASSES + ".stamp", bench_stamp,
                extra_cp=[ENGINE_CLASSES]) or not os.path.exists(BENCH_JAR):
        _jar(BENCH_CLASSES, BENCH_JAR)
    digest = hashlib.sha256(bench_stamp.encode()).hexdigest()
    _train(digest)
    return digest


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.stderr.write("build: %s\n" % e)
        sys.exit(2)
