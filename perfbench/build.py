"""Build file of the benchmark.

1. Compiles the engine's sources (`src/main/scala` of the checkout)
   together with the benchmark's own sources (`perfbench/src`) with the
   Scala compiler that ships in the Spark distribution's jars, and packs
   the classes into `perfbench/.build/perfbench.jar`.
2. Records a class-data-sharing archive (`perfbench/.build/app.jsa`) from
   one training run of the daily build and one micro-batch on a tiny
   input, so every measured JVM maps the Spark and engine classes instead
   of loading them one by one. The archive cuts ~10 s of start-up from each
   fresh process; it is part of the build, not of any measured run.

A stamp over every source file skips both steps when nothing changed.
Exits non-zero when the engine's sources are missing.

    python3 perfbench/build.py        # build (or confirm up to date)
"""
import fcntl
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
OUT = os.path.join(HERE, ".build")
JAR = os.path.join(OUT, "perfbench.jar")
ARCHIVE = os.path.join(OUT, "app.jsa")
STAMP = os.path.join(OUT, "stamp")

JVM_OPTS = ["-Xmx2g", "-XX:+UseParallelGC", "-Xss4m"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def spark_jars():
    """The Spark distribution's jars: `$SPARK_HOME/jars`, else the engine
    build's `unmanagedBase` (build.sbt)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    m = os.path.exists(sbt) and re.search(
        r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m:
        raise SystemExit("build: set SPARK_HOME to the Spark distribution")
    return m.group(1)


def java_cmd(tmp_dir, archive_opt=None):
    """The JVM command line every run uses, up to the main class."""
    share = archive_opt or f"-XX:SharedArchiveFile={ARCHIVE}"
    return ["java", *JVM_OPTS, share, f"-Djava.io.tmpdir={tmp_dir}", "-cp",
            os.pathsep.join([JAR, os.path.join(spark_jars(), "*")])]


def sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__),
                      os.path.join(HERE, "gen.py")]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update(",".join(sorted(os.listdir(spark_jars()))).encode())
    return h.hexdigest()


def compile_jar(files):
    classes = os.path.join(OUT, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    print(f"build: compiling {len(files)} sources", file=sys.stderr)
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp",
                        os.path.join(spark_jars(), "*"),
                        "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
                        "-d", classes, "@" + argfile],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac exited with {r.returncode}")
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, names in os.walk(classes):
            for n in sorted(names):
                f = os.path.join(d, n)
                z.write(f, os.path.relpath(f, classes))
    shutil.rmtree(classes)


def train_archive():
    import gen
    work = os.path.join(OUT, "train")
    shutil.rmtree(work, ignore_errors=True)
    gen.write_events(0, os.path.join(work, "input", "events"))
    tmp = ARCHIVE + ".tmp"
    print("build: recording the class-data-sharing archive", file=sys.stderr)
    r = subprocess.run(
        java_cmd(work, f"-XX:ArchiveClassesAtExit={tmp}") +
        ["graft.perfbench.FeatureBench", "train", os.path.join(work, "input"),
         work, "0", "0", "0", os.path.join(work, "result.json")],
        stdout=sys.stderr, stderr=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(tmp):
        raise SystemExit("build: the training run did not record an archive")
    os.replace(tmp, ARCHIVE)


def ensure():
    """Builds when a source changed; returns nothing, exits on failure."""
    engine = sources(ENGINE_SRC) if os.path.isdir(ENGINE_SRC) else []
    if not engine:
        raise SystemExit(f"build: no engine sources under {ENGINE_SRC}")
    files = engine + sources(BENCH_SRC)
    want = stamp(files)
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # one build per checkout at a time
        if os.path.exists(STAMP) and open(STAMP).read() == want:
            return
        if os.path.exists(STAMP):
            os.remove(STAMP)
        compile_jar(files)
        train_archive()
        with open(STAMP, "w") as fh:
            fh.write(want)


if __name__ == "__main__":
    ensure()
