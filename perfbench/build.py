"""Build file of the product-path benchmark.

Compiles the program's main sources (``src/main/scala``) together with the
benchmark's own sources (``perfbench/src``) into ``perfbench/.build``, using
the Scala compiler that ships inside the Spark distribution the program
compiles against. Nothing is fetched and nothing outside the checkout is
written. A stamp over every source file's bytes makes a rebuild happen only
when a source changed.

Run directly (``python3 perfbench/build.py``) or through ``run.py``, which
builds before every run.
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "stamp")


def spark_jars():
    """$SPARK_HOME/jars, else the directory the repository's build.sbt
    compiles against (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      open(sbt).read()) if os.path.isfile(sbt) else None
        jars = m.group(1) if m else ""
    if not os.path.isdir(jars):
        raise SystemExit("perfbench: Spark jars not found; set SPARK_HOME")
    return jars


def sources():
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    for d in dirs:
        if not os.path.isdir(d):
            raise SystemExit(f"perfbench: source directory missing: {os.path.relpath(d, ROOT)}")
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile if any source changed; return the classpath to run with."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classpath = CLASSES + os.pathsep + os.path.join(jars, "*")
    if os.path.isfile(STAMP) and open(STAMP).read() == stamp:
        return classpath
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(BUILD, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp,
           "@" + args_file]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed (exit {r.returncode})")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return classpath


if __name__ == "__main__":
    print(build())
