"""Build file of the benchmark: compiles the program (``src/main/scala``) and
the benchmark's JVM side (``perfbench/src``) with the Scala compiler that
ships in Spark's jar directory, into a directory keyed on a hash of every
source file. A checkout whose sources are unchanged reuses the build.

Usage: python3 perfbench/build.py   (from the repository root)
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SOURCES = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SOURCES = os.path.join(HERE, "src")
WORK = os.path.join(HERE, ".work")


def spark_jars():
    """The Spark jar directory the repository's own build declares as
    ``unmanagedBase``, else ``$SPARK_HOME/jars``."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if found:
        jar_dir = found.group(1)
    elif os.environ.get("SPARK_HOME"):
        jar_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sys.exit("perfbench: build.sbt declares no unmanagedBase and SPARK_HOME is unset")
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not jars:
        sys.exit(f"perfbench: no Spark jars under {jar_dir}")
    return jars


def sources():
    if not os.path.isdir(os.path.join(PROGRAM_SOURCES, "graft")):
        sys.exit("perfbench: no program sources at src/main/scala; run from a repository checkout")
    found = []
    for top in (PROGRAM_SOURCES, BENCH_SOURCES):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def ensure():
    """Return the classpath (list of entries), compiling first if needed."""
    files = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    key = h.hexdigest()[:16]
    build_root = os.path.join(WORK, "build")
    classes = os.path.join(build_root, key)
    if not os.path.exists(os.path.join(classes, "_BUILT")):
        os.makedirs(build_root, exist_ok=True)
        for old in os.listdir(build_root):
            shutil.rmtree(os.path.join(build_root, old), ignore_errors=True)
        tmp = classes + ".tmp"
        os.makedirs(tmp)
        cmd = [
            "java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(jars),
            "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
            "-classpath", os.pathsep.join(jars), *files,
        ]
        done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
        if done.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            sys.exit(f"perfbench: compile failed ({done.returncode})")
        os.rename(tmp, classes)
        open(os.path.join(classes, "_BUILT"), "w").close()
    return [classes, PROGRAM_RESOURCES, *jars]


if __name__ == "__main__":
    print(os.pathsep.join(ensure()[:2]))
