"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark harness (perfbench/harness) with the Scala compiler that
ships among the program's Spark jars, into a directory keyed by a hash of
every source, so an unchanged tree is built once.

    python3 perfbench/build.py     # from the root of a checkout
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def spark_jars(root):
    """The jar directory the program's own build declares
    (`unmanagedBase := file(...)` in build.sbt), else $SPARK_HOME/jars."""
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise BuildError("no Spark jar directory: build.sbt names none and "
                     "SPARK_HOME is unset")


def _sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**",
                                         "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    if not prog:
        raise BuildError("no program sources under src/main/scala")
    return prog, bench


def build(root, work):
    """Compile if needed; return the runtime classpath."""
    jars_dir = spark_jars(root)
    jars = sorted(glob.glob(os.path.join(jars_dir, "*.jar")))
    prog, bench = _sources(root)
    h = hashlib.sha256()
    for p in prog + bench + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    out = os.path.join(work, "build-" + h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    cp = [classes] + jars
    if os.path.exists(os.path.join(out, "done")):
        return cp
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    compiler = [j for j in jars if re.search(
        r"/scala-(compiler|library|reflect)-[\d.]+\.jar$", j)]
    if len(compiler) != 3:
        raise BuildError("scala compiler jars not found in " + jars_dir)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
           "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", ":".join(jars)] + prog + bench
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    open(os.path.join(out, "done"), "w").close()
    return cp


if __name__ == "__main__":
    root = os.getcwd()
    try:
        build(root, os.path.join(root, ".bench_build", "perfbench"))
    except BuildError as e:
        sys.exit(str(e))
