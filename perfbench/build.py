"""Build file of the benchmark: compiles the library (`src/main/scala`) and
the benchmark's own JVM sources (`perfbench/src`) into `<build>/classes`
with the Scala compiler that ships in Spark's jars directory.

The build is skipped when the sources are unchanged since the last one
(a digest of every source file is kept next to the classes).

Usage: python3 perfbench/build.py [build-dir]
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
# Spark 4 on JDK 17 needs these when a session is created outside spark-submit
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def classpath(build_dir):
    return os.pathsep.join([os.path.join(build_dir, "classes"), os.path.join(spark_jars(), "*")])


def sources():
    found = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise BuildError(f"missing source directory {os.path.relpath(d, ROOT)}")
        for base, _, files in os.walk(d):
            found += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build(build_dir):
    """Compile if needed; returns the runtime classpath."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    digest = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classpath(build_dir)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    jars = spark_jars()
    jar_cp = os.pathsep.join(sorted(os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar")))
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", jar_cp, "@" + argfile]
    log = os.path.join(build_dir, "build.log")
    try:
        with open(log, "w") as out:
            rc = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT, timeout=600).returncode
    except subprocess.TimeoutExpired:
        raise BuildError(f"compilation took over 600 s; see {log}")
    if rc != 0:
        raise BuildError(f"compilation failed (exit {rc}); see {log}")
    with open(stamp, "w") as f:
        f.write(digest)
    return classpath(build_dir)


if __name__ == "__main__":
    d = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build"))
    os.makedirs(d, exist_ok=True)
    try:
        print(build(d))
    except BuildError as e:
        sys.exit(f"build: {e}")
