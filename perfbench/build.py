"""Build file of the benchmark package.

Compiles the program's sources (`src/main/scala` at the repository root)
together with the benchmark's own sources (`perfbench/src`) into one class
directory, with the Scala compiler and the Spark jars that ship under
`$SPARK_HOME/jars`. A stamp over every source file skips the compile when
nothing changed.

    python3 perfbench/build.py        # prints the class directory
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise BuildError("SPARK_HOME is not set")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not jars:
        raise BuildError(f"no jars under {home}/jars")
    return jars


def sources():
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        raise BuildError(f"program sources not found under {PROGRAM_SRC}")
    found = []
    for base in (PROGRAM_SRC, os.path.join(BENCH, "src")):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build():
    """Compile if needed; return (class directory, runtime classpath)."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs + [__file__]:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    cp = [classes] + jars
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, cp

    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    args_file = os.path.join(BUILD, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", ":".join(jars), "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("compile failed:\n" + r.stdout[-4000:])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, cp


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
