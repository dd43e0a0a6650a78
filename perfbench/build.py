#!/usr/bin/env python3
"""Build file of the pipeline benchmark.

1. Compiles the library sources (`src/main/scala`) together with the
   harness (`perfbench/src`) in one scalac pass, against the Spark
   distribution's jars (which ship the matching scala-compiler), and
   packs the classes into `.bench_build/perfbench.jar`. No sbt and no
   dependency resolution: the inputs are the sources, `java` on PATH and
   the Spark jars.
2. Runs the harness's self-test once with -XX:ArchiveClassesAtExit, which
   leaves a class-data-sharing archive (`.bench_build/cds.jsa`) of every
   class the workloads load. Runs map it instead of loading ~10k classes
   from 290 jars, which takes several seconds off every run's set-up.

Spark's jar directory is `$SPARK_HOME/jars` when SPARK_HOME is set,
otherwise the `unmanagedBase` that the repository's build.sbt declares.
A stamp (hash of every compiled source) makes a rebuild a no-op while
the sources are unchanged.

usage: python3 perfbench/build.py      (from the repository root)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
OUT = os.path.join(ROOT, ".bench_build")
JAR = os.path.join(OUT, "perfbench.jar")
CDS = os.path.join(OUT, "cds.jsa")
STAMP = os.path.join(OUT, "BUILD_STAMP")
SCRATCH = os.path.join(OUT, "run")

# Spark 4 on JDK 17 outside spark-submit needs these (the same list the
# repository's build.sbt passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    candidates = [os.path.join(home, "jars")] if home else []
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            candidates.append(m.group(1))
    for d in candidates:
        if os.path.isdir(d) and any(n.startswith("spark-sql_") for n in os.listdir(d)):
            return d
    raise BuildError("no Spark jar directory found: set SPARK_HOME "
                     "(looked in %s)" % (candidates or "nothing"))


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH_DIR, "src")]
    for r in roots:
        if not os.path.isdir(r):
            raise BuildError("missing source directory %s" % os.path.relpath(r, ROOT))
    out = []
    for r in roots:
        for d, _, files in os.walk(r):
            out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def stamp_of(files, jars):
    h = hashlib.sha256(jars.encode())
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def java_command(jars, main_args, cds=None):
    """The JVM command line of a benchmark run (and of the archive training run)."""
    os.makedirs(os.path.join(SCRATCH, "tmp"), exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:+UseG1GC",
           "-Djava.io.tmpdir=" + os.path.join(SCRATCH, "tmp"),
           "-Dlog4j2.configurationFile=" + os.path.join(BENCH_DIR, "log4j2.properties"),
           "-Dperfbench.scratch=" + SCRATCH]
    if cds:
        cmd.append(cds)
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    return cmd + ["-cp", JAR + os.pathsep + os.path.join(jars, "*"), "perfbench.Main"] + main_args


def java_env():
    return dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(SCRATCH, "local"))


def compile_jar(files, jars, quiet):
    tmp = os.path.join(OUT, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    if not quiet:
        print("perfbench: compiling %d sources" % len(files), file=sys.stderr, flush=True)
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-classpath", cp, "-d", tmp, "-nowarn", "@" + argfile],
                       stdout=sys.stderr, stderr=sys.stderr, timeout=600)
    if r.returncode != 0:
        raise BuildError("scalac failed with exit code %d" % r.returncode)
    with zipfile.ZipFile(JAR + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, names in os.walk(tmp):
            for n in sorted(names):
                p = os.path.join(d, n)
                z.write(p, os.path.relpath(p, tmp))
    os.replace(JAR + ".tmp", JAR)
    shutil.rmtree(tmp, ignore_errors=True)


def train_archive(jars, quiet):
    """Dump the class-data-sharing archive from one self-test run. A failed
    training run leaves no archive; runs then load classes from the jars."""
    if os.path.exists(CDS):
        os.remove(CDS)
    if not quiet:
        print("perfbench: training the class-data-sharing archive", file=sys.stderr, flush=True)
    log = os.path.join(OUT, "cds-training.log")
    with open(log, "w") as f:
        r = subprocess.run(java_command(jars, ["--self-test"], "-XX:ArchiveClassesAtExit=" + CDS + ".tmp"),
                           stdout=f, stderr=f, env=java_env(), cwd=ROOT, timeout=600)
    if r.returncode == 0 and os.path.exists(CDS + ".tmp"):
        os.replace(CDS + ".tmp", CDS)
    elif not quiet:
        print("perfbench: self-test failed (exit %d, see %s); running without the archive"
              % (r.returncode, os.path.relpath(log, ROOT)), file=sys.stderr)


def build(quiet=False):
    """Build if the sources changed; return the Spark jar directory."""
    jars = spark_jars()
    files = sources()
    stamp = stamp_of(files, jars)
    if os.path.isfile(STAMP) and os.path.isfile(JAR):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                return jars
    os.makedirs(OUT, exist_ok=True)
    if os.path.exists(STAMP):
        os.remove(STAMP)
    compile_jar(files, jars, quiet)
    train_archive(jars, quiet)
    with open(STAMP, "w") as f:
        f.write(stamp + "\n")
    return jars


def cds_option():
    return "-XX:SharedArchiveFile=" + CDS if os.path.isfile(CDS) else None


if __name__ == "__main__":
    try:
        build()
    except (BuildError, subprocess.TimeoutExpired, OSError) as e:
        print("perfbench: build failed: %s" % e, file=sys.stderr)
        sys.exit(1)
