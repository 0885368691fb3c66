#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the program's sources (src/main/scala) into
perfbench/.build/program and the benchmark harness (perfbench/scala) against
them into perfbench/.build/harness, with the
Scala 2.13 compiler that ships in Spark's jars directory, so the build needs
neither sbt nor a dependency download. A stamp over the source contents
skips a compile when nothing changed.

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    for c in candidates:
        if glob.glob(os.path.join(c, "scala-compiler-2.13*.jar")):
            return c
    raise BuildError("no Spark jars directory with a Scala 2.13 compiler (set SPARK_HOME)")


def java():
    home = os.environ.get("JAVA_HOME")
    if home and os.access(os.path.join(home, "bin", "java"), os.X_OK):
        return os.path.join(home, "bin", "java")
    path = shutil.which("java")
    if not path:
        raise BuildError("no java on PATH (set JAVA_HOME)")
    return path


def _sources(base):
    return sorted(glob.glob(os.path.join(base, "**", "*.scala"), recursive=True))


def _compile(name, srcs, classpath, key):
    """Compiles `srcs` into .build/<name> unless its stamp matches `key`."""
    h = hashlib.sha256(key.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(BUILD, name)
    stamp_file = os.path.join(BUILD, name + ".stamp")
    if os.path.isdir(out) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return out, stamp
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, name + ".sources")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", classpath[-1], "scala.tools.nsc.Main",
           "-d", tmp, "-classpath", os.pathsep.join(classpath), "-nowarn", "@" + argfile]
    print(f"perfbench: compiling {len(srcs)} {name} sources", file=sys.stderr, flush=True)
    if subprocess.run(cmd, cwd=ROOT).returncode != 0:
        raise BuildError(f"{name} compile failed")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return out, stamp


def build():
    """Returns (classpath entries, Spark jars dir), compiling what changed:
    the program first, then the harness against it."""
    jars = spark_jars()
    program = _sources(os.path.join(ROOT, "src", "main", "scala"))
    if not program:
        raise BuildError("no program sources under src/main/scala")
    spark_cp = os.path.join(jars, "*")
    compiler = os.path.basename(glob.glob(os.path.join(jars, "scala-compiler-2.13*.jar"))[0])
    program_out, stamp = _compile("program", program, [spark_cp], compiler)
    harness_out, _ = _compile("harness", _sources(os.path.join(HERE, "scala")),
                              [program_out, spark_cp], stamp)
    return [harness_out, program_out], jars


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()[0]))
    except BuildError as e:
        sys.exit(f"perfbench: {e}")
