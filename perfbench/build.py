"""Builds the program (src/main/scala, src/main/resources) and the benchmark
harness (perfbench/scala) with the Scala compiler that ships with Spark, into
.bench_build/bench.jar. Rebuilds only when a source file changed.

Usage: python3 perfbench/build.py
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
OUT = os.path.join(ROOT, ".bench_build")
ARCHIVE = os.path.join(OUT, "classes.jsa")
JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def java(cp, work, heap, main, args):
    """The command that runs `main` the way a Spark driver is run, with every
    file it writes under `work`, and with the class-data archive if one exists."""
    share = ["-XX:SharedArchiveFile=" + ARCHIVE] if os.path.exists(ARCHIVE) else []
    return (["java", "-XX:-UsePerfData"] +
            ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in JAVA_OPENS] +
            share + ["-Xmx" + heap, "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
                     "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                     "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
                     "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
                     "-cp", os.pathsep.join(cp), main] + args)


def archive_classes(cp):
    """Class-data sharing: archive the classes a Spark session loads, so runs
    map them instead of loading and verifying them again (about 3 s of JVM
    start and a few seconds of the first pass on a 4-core machine)."""
    work = os.path.join(OUT, "archive.tmp")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = java(cp, work, "2g", "perfbench.ClassArchive", [work])
    cmd.insert(2, "-XX:ArchiveClassesAtExit=" + ARCHIVE + ".tmp")
    r = subprocess.run(cmd, cwd=work, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                       timeout=300)
    if r.returncode == 0 and os.path.exists(ARCHIVE + ".tmp"):
        os.replace(ARCHIVE + ".tmp", ARCHIVE)
    shutil.rmtree(work, ignore_errors=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME") or "/opt/spark"
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("no Spark with a Scala compiler at %s (set SPARK_HOME)" % home)
    return os.path.join(jars, "*")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit("program sources missing: %s" % main)
    files = [os.path.join(d, f) for base in (main, os.path.join(HERE, "scala"))
             for d, _, fs in os.walk(base) for f in fs if f.endswith(".scala")]
    return sorted(files)


def ensure():
    """Compile if needed; returns the runtime class path (a list of jars)."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    jar = os.path.join(OUT, "bench.jar")
    stamp_file = os.path.join(OUT, "bench.jar.sha256")
    jars = spark_jars()
    # explicit jars, no directories or wildcards: the class-data archive
    # accepts nothing else
    cp = [jar] + sorted(glob.glob(jars[:-1] + "*.jar"))
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    tmp = os.path.join(OUT, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args = os.path.join(OUT, "scalac.args")
    with open(args, "w") as fh:
        fh.write("\n".join(files))
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", jars,
                        "scala.tools.nsc.Main",
                        "-usejavacp", "-cp", jars, "-nowarn", "-d", tmp, "@" + args],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build failed")
    resources = os.path.join(ROOT, "src", "main", "resources")
    with zipfile.ZipFile(jar + ".tmp", "w") as z:
        for base in (tmp, resources):
            for d, _, fs in os.walk(base):
                for f in sorted(fs):
                    z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), base))
    os.replace(jar + ".tmp", jar)
    shutil.rmtree(tmp)
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    archive_classes(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


if __name__ == "__main__":
    ensure()
