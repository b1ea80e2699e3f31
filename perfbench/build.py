"""Build file of the benchmark: compiles the program (``src/main/scala``
of the checkout) together with the harness (``perfbench/harness``) into
``.bench_build/classes`` with the Scala compiler that ships in Spark's
jar directory, the same jars the repo's ``build.sbt`` compiles against.

The build is skipped when the sources are unchanged since the last one
(a digest of every source file is kept beside the classes).

Run on its own: ``python3 perfbench/build.py`` from the checkout root.
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
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
PROGRAM = os.path.join(ROOT, "src", "main", "scala")
HARNESS = os.path.join(HERE, "harness")


def spark_jars():
    """``$SPARK_HOME/jars``, else the jar directory the repo's build.sbt
    names as its ``unmanagedBase``."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME to a Spark installation")
    return m.group(1)


def sources():
    found = []
    for d in (PROGRAM, HARNESS):
        found += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(found)


def digest(files):
    md = hashlib.sha256()
    for f in files:
        md.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            md.update(fh.read())
    return md.hexdigest()


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build(log=sys.stderr):
    """Compile if needed; returns the runtime classpath."""
    if not os.path.isfile(os.path.join(PROGRAM, "graft", "SparkEntry.scala")):
        raise SystemExit(
            "perfbench: no program sources at src/main/scala; "
            "run from the root of a checkout of the repository")
    files = sources()
    stamp = os.path.join(BUILD, "classes.sha256")
    want = digest(files)
    if os.path.isdir(CLASSES) and os.path.isfile(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == want:
                return classpath()
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(CLASSES, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    print(f"perfbench: compiling {len(files)} sources", file=log, flush=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", CLASSES] + files
    res = subprocess.run(cmd, stdout=log, stderr=log)
    if res.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({res.returncode})")
    with open(stamp, "w") as fh:
        fh.write(want)
    return classpath()


if __name__ == "__main__":
    print(build())
