"""Build file of the benchmark package: compiles the engine's main sources
together with the harness under `perfbench/src` into
`.bench_build/classes`, using the Scala compiler that ships in the Spark
distribution's jars. A stamp of every source file's path and content
skips the compile when nothing changed.

Run `python3 perfbench/build.py` from the repository root; it prints the
classpath to launch the harness with.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys


def spark_jars():
    """The Spark distribution's jars: SPARK_HOME, else the one whose
    spark-submit is on PATH, else the engine build's `unmanagedBase`."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"] + "/jars"
    submit = shutil.which("spark-submit")
    if submit:
        return os.path.dirname(os.path.dirname(os.path.realpath(submit))) + "/jars"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
    if not m:
        raise FileNotFoundError("no Spark distribution found (set SPARK_HOME)")
    return m.group(1)


SPARK_JARS = spark_jars()
BUILD = ".bench_build"
SOURCES = ["src/main/scala", "perfbench/src"]
RESOURCES = "src/main/resources"

JDK_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def sources():
    files = []
    for root in SOURCES:
        files += glob.glob(f"{root}/**/*.scala", recursive=True)
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    return f"{os.path.abspath(BUILD)}/classes:{SPARK_JARS}/*"


def ensure():
    """Compile if the sources changed since the last build; return the
    classpath. Raises when the sources or the compiler are missing."""
    files = sources()
    if not any(f.startswith("src/main/scala") for f in files):
        raise FileNotFoundError("engine sources (src/main/scala) not found")
    if not glob.glob(f"{SPARK_JARS}/scala-compiler-*.jar"):
        raise FileNotFoundError(f"no Scala compiler in {SPARK_JARS}")
    want = stamp(files)
    stamp_file = f"{BUILD}/classes.stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return classpath()
    shutil.rmtree(f"{BUILD}/classes", ignore_errors=True)
    os.makedirs(f"{BUILD}/classes")
    cmd = ["java", "-Xmx2g", "-Xss4m", "-cp", f"{SPARK_JARS}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", f"{BUILD}/classes",
           "-classpath", f"{SPARK_JARS}/*"] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise RuntimeError("compile failed")
    if os.path.isdir(RESOURCES):
        shutil.copytree(RESOURCES, f"{BUILD}/classes", dirs_exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(want)
    return classpath()


if __name__ == "__main__":
    print(ensure())
