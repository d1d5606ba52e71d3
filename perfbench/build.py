"""Build file of the benchmark.

Compiles graft's Compile sources (``src/main/scala`` and
``tools/oracle-src``, the same source sets as build.sbt) together with the
benchmark harness (``perfbench/harness``) into one jar,
``.bench_build/graft-bench-<digest>.jar``, using the Scala compiler and
the Spark jars shipped in ``$SPARK_HOME/jars`` (default
``/opt/spark/jars``), the same classpath build.sbt compiles against. The
digest covers every source file's path and bytes, so an unchanged tree is
not compiled again.

    python3 perfbench/build.py     # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
SOURCE_SETS = ("src/main/scala", "tools/oracle-src", "perfbench/harness")


def sources(root):
    found = []
    for d in SOURCE_SETS:
        found += glob.glob(os.path.join(root, d, "**", "*.scala"), recursive=True)
    return sorted(found)


def spark_classpath():
    return sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))


def build(root=ROOT, out=None):
    """Returns the jar of graft plus the harness, compiling first if no jar
    for the current sources exists."""
    out = out or os.path.join(root, ".bench_build")
    srcs = sources(root)
    if not any(s.startswith(os.path.join(root, "src", "main", "scala")) for s in srcs):
        raise RuntimeError(f"no graft sources under {root}/src/main/scala")
    if not spark_classpath():
        raise RuntimeError(f"Spark jars not found at {SPARK_JARS} (set SPARK_HOME)")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    jar = os.path.join(out, f"graft-bench-{h.hexdigest()[:16]}.jar")
    if os.path.exists(jar):
        return jar
    classes = os.path.join(out, "classes.tmp")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(SPARK_JARS, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", classes, "-classpath", cp, "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise RuntimeError("scalac failed:\n" + proc.stdout[-4000:])
    for old in glob.glob(os.path.join(out, "graft-bench-*")):
        os.remove(old)
    with zipfile.ZipFile(jar + ".tmp", "w") as z:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))
    os.rename(jar + ".tmp", jar)
    shutil.rmtree(classes)
    return jar


if __name__ == "__main__":
    try:
        print(build())
    except RuntimeError as e:
        sys.exit(str(e))
