#!/usr/bin/env python3
"""Build the engine and the benchmark harness, from the root of a checkout.

    python3 perfbench/build.py          # prints the run classpath

Compiles the engine's sources (`src/main/scala`) and the harness's
(`perfbench/src/main/scala`) in one `scalac` pass, run from the Scala
compiler jars that ship with Spark, against Spark's jars (those of
`$SPARK_HOME`, or else the directory the repository's `build.sbt` names as
`unmanagedBase`): the same compiler and classpath as the repository's sbt
build, without sbt or its caches. The classes go to
`perfbench/.work/build/classes`, stamped with a hash of every source; a
build whose stamp matches is reused.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = os.path.join(HERE, ".work", "build")
SOURCE_ROOTS = ("src/main/scala", "perfbench/src/main/scala")
BUILD_TIMEOUT_S = 850


class BuildError(Exception):
    pass


def java():
    home = os.environ.get("JAVA_HOME")
    if home and os.access(os.path.join(home, "bin", "java"), os.X_OK):
        return os.path.join(home, "bin", "java")
    found = shutil.which("java")
    if found is None:
        raise BuildError("java is required (on PATH or under JAVA_HOME)")
    return found


def spark_jars(root):
    """Spark's jars: `$SPARK_HOME/jars`, or else the repository build's `unmanagedBase`."""
    if os.environ.get("SPARK_HOME"):
        jars_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m is None:
            raise BuildError("set SPARK_HOME (build.sbt names no unmanagedBase)")
        jars_dir = m.group(1)
    jars = sorted(glob.glob(os.path.join(jars_dir, "*.jar")))
    if not jars:
        raise BuildError(f"no Spark jars under {jars_dir} (set SPARK_HOME)")
    return jars


def sources(root):
    out = []
    for top in SOURCE_ROOTS:
        for d, _, names in os.walk(os.path.join(root, top)):
            out += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def fingerprint(root, srcs, jars):
    h = hashlib.sha256()
    for j in jars:
        h.update(os.path.basename(j).encode() + b"\0")
    for path in srcs:
        h.update(os.path.relpath(path, root).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(f.read() + b"\0")
    return h.hexdigest()


def build(root):
    """Returns (run classpath, whether it compiled), compiling when a source changed."""
    jars = spark_jars(root)
    srcs = sources(root)
    classes = os.path.join(BUILD_DIR, "classes")
    stamp = os.path.join(BUILD_DIR, "stamp")
    cp = os.pathsep.join([classes] + jars)
    fp = fingerprint(root, srcs, jars)
    if os.path.exists(stamp) and os.path.isdir(classes):
        with open(stamp) as f:
            if f.read().strip() == fp:
                return cp, False

    def jar(prefix):
        hits = [j for j in jars if os.path.basename(j).startswith(prefix)]
        if not hits:
            raise BuildError(f"{prefix}*.jar is missing from Spark's jars")
        return hits[0]

    compiler = os.pathsep.join(jar(p) for p in ("scala-compiler-", "scala-library-", "scala-reflect-"))
    fresh = os.path.join(BUILD_DIR, "classes.new")
    shutil.rmtree(fresh, ignore_errors=True)
    os.makedirs(fresh)
    args = os.path.join(BUILD_DIR, "sources.txt")
    with open(args, "w") as f:
        f.write("\n".join(srcs) + "\n")
    print("perfbench: compiling", file=sys.stderr)
    out = subprocess.run(
        [java(), "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler, "scala.tools.nsc.Main",
         "-nowarn", "-d", fresh, "-classpath", os.pathsep.join(jars), "@" + args],
        cwd=root, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:])
        raise BuildError(f"scalac exited with {out.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(fresh, classes)
    with open(stamp, "w") as f:
        f.write(fp + "\n")
    return cp, True


if __name__ == "__main__":
    try:
        print(build(os.getcwd())[0])
    except (BuildError, OSError, subprocess.TimeoutExpired) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)
