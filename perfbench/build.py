#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (`src/main/scala`) and the
benchmark's own Scala sources (`perfbench/scala`) with the Scala compiler
that ships in the Spark distribution (`$SPARK_HOME/jars`, else the jar
directory `build.sbt` names as `unmanagedBase`), into
`$CARGO_TARGET_DIR/classes` (default `.bench_build/classes`) under the
checkout root.

    python3 perfbench/build.py        # build if any source changed

A stamp over every source file's path and bytes skips the compile when
nothing changed, so only the first run in a checkout pays for it.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

SCALA = "2.13.17"


class BuildError(Exception):
    pass


def sources(root):
    found = []
    for d in ("src/main/scala", "perfbench/scala"):
        base = os.path.join(root, d)
        if not os.path.isdir(base):
            raise BuildError("missing source directory: " + d)
        found += sorted(glob.glob(os.path.join(base, "**", "*.scala"), recursive=True))
    return found


def spark_jars(root):
    """The Spark distribution's jar directory the engine builds against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise BuildError("no Spark distribution: set SPARK_HOME")
    return m.group(1)


def classpath(root):
    return build_dir(root) + "/classes:" + spark_jars(root) + "/*"


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def ensure(root, log=sys.stderr):
    """Compile unless the stamp matches; returns the classes directory."""
    srcs = sources(root)
    jars = spark_jars(root)
    if not os.path.isdir(jars):
        raise BuildError("no Spark jars at " + jars)
    h = hashlib.sha256(SCALA.encode())
    for f in srcs:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(root), "classes")
    stamp_file = os.path.join(build_dir(root), "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    compiler = ":".join(os.path.join(jars, "scala-%s-%s.jar" % (m, SCALA))
                        for m in ("compiler", "library", "reflect"))
    argfile = os.path.join(build_dir(root), "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", compiler,
           "scala.tools.nsc.Main", "-nowarn", "-classpath", jars + "/*", "-d", out,
           "@" + argfile]
    print("[perfbench] compiling %d sources" % len(srcs), file=log)
    proc = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if proc.returncode != 0:
        print(proc.stdout[-4000:], file=log)
        raise BuildError("scalac failed with code %d" % proc.returncode)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out


if __name__ == "__main__":
    sys.dont_write_bytecode = True
    try:
        ensure(os.getcwd())
    except BuildError as e:
        print("[perfbench] build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
