#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the library sources
(src/main/scala) together with the benchmark's JVM side (perfbench/src)
with the Scala compiler that ships in the Spark jars, packs the classes
into .bench_build/app.jar, and records a class-data-sharing archive
(.bench_build/app.jsa) from a training JVM that runs a tiny version of
every workload. Rebuilds only when a source file or this file changed.

The archive lets each measured JVM map the classes it needs instead of
loading and verifying them from the jars, which takes several seconds
per JVM. It changes no code path of the program; a JVM that cannot use
it loads the classes as usual.

    python3 perfbench/build.py          # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

SPARK_JARS = os.environ.get("SPARK_JARS", "/opt/spark/jars")
BUILD = ".bench_build"
JAR = f"{BUILD}/app.jar"
ARCHIVE = f"{BUILD}/app.jsa"
STAMP = f"{BUILD}/classes.stamp"

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def sources():
    found = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not found:
        raise SystemExit("build: no library sources under src/main/scala "
                         "(run from the repository root)")
    return found + sorted(glob.glob("perfbench/src/**/*.scala", recursive=True))


def heap():
    """JVM heap, sized from MemTotal the way the tier-1 test run sizes
    it: half the memory in GiB, clamped to 2..8."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def java_command(tmp, share=True):
    """The JVM command line up to the main class. The training JVM and
    the measured ones share it, so the archive matches their flags."""
    cds = []
    if share and os.path.exists(ARCHIVE):
        cds = [f"-XX:SharedArchiveFile={os.path.abspath(ARCHIVE)}"]
    return (["java", f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + cds + ADD_OPENS
            + ["-cp", f"{os.path.abspath(JAR)}:{SPARK_JARS}/*", "graftbench.Main"])


def pack(classes):
    """app.jar from the compiled classes, entries in a fixed order."""
    with zipfile.ZipFile(JAR + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for root, dirs, files in os.walk(classes):
            dirs.sort()
            for name in sorted(files):
                p = os.path.join(root, name)
                z.write(p, os.path.relpath(p, classes))
    os.replace(JAR + ".tmp", JAR)


def train(sf_dir, queries):
    """Record the class-data-sharing archive from a training JVM."""
    tmp = os.path.abspath(f"{BUILD}/train")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = java_command(tmp, share=False)
    cmd[1:1] = [f"-XX:ArchiveClassesAtExit={os.path.abspath(ARCHIVE)}"]
    cmd += ["--workload", "train", "--tmp", tmp, "--cores", "4", "--queries", queries]
    if sf_dir:
        cmd += ["--sf", sf_dir]
    try:
        with open(f"{BUILD}/train.log", "w") as log:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, timeout=600)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"build: training JVM timed out, see {BUILD}/train.log")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if r.returncode != 0:
        raise SystemExit(f"build: training JVM failed ({r.returncode}), see {BUILD}/train.log")


def build(sf_dir=None, queries=""):
    """Compile and train if needed; returns the source hash."""
    srcs = sources()
    h = hashlib.sha256()
    # this file too: it holds the JVM flags the archive must match
    for p in srcs + [os.path.relpath(__file__)]:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update(repr((sf_dir, queries)).encode())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return stamp
    for p in (STAMP, JAR, ARCHIVE):
        if os.path.exists(p):
            os.remove(p)
    classes = f"{BUILD}/classes"
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", f"{SPARK_JARS}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-release", "17",
           "-d", classes] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    pack(classes)
    train(sf_dir, queries)
    with open(STAMP, "w") as f:
        f.write(stamp)
    return stamp


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import run
    print(run.build_program())
