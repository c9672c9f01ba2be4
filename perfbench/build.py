"""Builds the program and the benchmark from source.

Compiles `src/main/scala` (the program) together with `perfbench/src` (the
benchmark) using the Scala compiler that ships among the Spark jars, into
`.bench_build/perfbench/classes`. A stamp over every source file and jar
name skips the compile when nothing changed.

    python3 perfbench/build.py      # prints the runtime classpath
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(ROOT, "perfbench", "src")]


class BuildError(Exception):
    pass


def jars_dir():
    """Spark's jars: $SPARK_HOME/jars, else the directory build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            return m.group(1)
    raise BuildError("no Spark jars: set SPARK_HOME")


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise BuildError(f"missing source directory {os.path.relpath(d, ROOT)}")
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def build():
    """Compiles if needed; returns the runtime classpath."""
    jars = sorted(glob.glob(os.path.join(jars_dir(), "*.jar")))
    def jar(prefix):
        hits = [j for j in jars if os.path.basename(j).startswith(prefix)]
        if not hits:
            raise BuildError(f"no {prefix}*.jar among the Spark jars")
        return hits[0]
    compiler = [jar("scala-compiler-"), jar("scala-library-"), jar("scala-reflect-")]
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "stamp")
    cp = os.pathsep.join([classes] + jars)
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-usejavacp:false", "-nowarn",
           "-classpath", os.pathsep.join(jars), "-d", tmp, "@" + argfile]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        raise BuildError("scalac failed:\n" + p.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
