"""Build step of the benchmark: compiles the engine's sources together
with the benchmark harness into one class directory.

The engine has no dependencies beyond the Spark distribution, so the
Scala compiler that ships with Spark (`scala-compiler-*.jar`) builds
it directly: no sbt, no network. The result is cached under
`.bench_build/perfbench/classes`, keyed by a hash of every source file,
so only the first run in a checkout pays for the build.

Usage: python3 perfbench/build.py   (from the root of a checkout)
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
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the
    `unmanagedBase` the repo's build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark distribution: set SPARK_HOME")


def java():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    found = shutil.which("java")
    if not found:
        raise BuildError("no java on PATH")
    return found


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    engine = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    if not engine:
        raise BuildError(f"no engine sources under {os.path.relpath(main, ROOT)}")
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    return engine + harness


def classpath_dirs():
    """Compiled classes plus the engine's resources, if it has any."""
    dirs = [os.path.join(OUT, "classes")]
    res = os.path.join(ROOT, "src", "main", "resources")
    if os.path.isdir(res):
        dirs.append(res)
    return dirs


def build(log=sys.stderr):
    """Compile unless the cached classes match the current sources.
    Returns the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for path in srcs:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp = os.path.join(OUT, "classes.sha256")
    cp = classpath_dirs() + [os.path.join(jars, "*")]
    if os.path.exists(stamp) and open(stamp).read().strip() == digest:
        return os.pathsep.join(cp)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args_file = os.path.join(OUT, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    print(f"[perfbench] compiling {len(srcs)} files", file=log, flush=True)
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.path.join(jars, "*"), "@" + args_file]
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                              text=True, timeout=600)
    except subprocess.TimeoutExpired:
        raise BuildError("compilation took longer than 600 s")
    if proc.returncode != 0:
        raise BuildError("compilation failed:\n" + proc.stdout[-4000:])
    with open(stamp, "w") as f:
        f.write(digest + "\n")
    return os.pathsep.join(cp)


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(2)
