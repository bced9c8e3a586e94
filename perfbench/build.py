"""Build file of the perfbench harness: compiles the engine sources
(``src/main/scala``) together with the harness (``perfbench/src``) using the
Scala compiler that ships in Spark's jar directory, so the build needs no
dependency resolution and writes only under ``.bench_build/``.

The Spark jar directory is ``$SPARK_HOME/jars`` or, failing that, the
``unmanagedBase`` that the repo's ``build.sbt`` declares.

Usage: python3 perfbench/build.py   (from the repo root)
"""
import fcntl
import glob
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jar directory: set SPARK_HOME")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        raise BuildError("no engine sources under src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                                   recursive=True))


def classpath():
    return os.pathsep.join([CLASSES, os.path.join(ROOT, "src", "main", "resources"),
                            os.path.join(spark_jars(), "*")])


def ensure():
    """Compile if any source changed since the last build; returns the
    classpath for the harness JVM. Concurrent callers serialize on a lock."""
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return _ensure()


def _ensure():
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(OUT, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath()
    tmp = CLASSES + ".tmp"
    subprocess.run(["rm", "-rf", tmp], check=True)
    os.makedirs(tmp)
    args = os.path.join(OUT, "sources.txt")
    with open(args, "w") as f:
        f.write("\n".join(srcs) + "\n")
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as lf:
        rc = subprocess.run(
            ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
             "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp,
             "@" + args], stdout=lf, stderr=subprocess.STDOUT, cwd=OUT).returncode
    if rc != 0:
        raise BuildError(f"scalac failed (exit {rc}); see {log}")
    subprocess.run(["rm", "-rf", CLASSES], check=True)
    os.rename(tmp, CLASSES)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath()


if __name__ == "__main__":
    try:
        print(ensure())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
