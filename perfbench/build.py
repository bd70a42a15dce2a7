"""Builds the program and the benchmark's JVM side with the Scala compiler
that ships in the Spark distribution (no network, no sbt).

The classes go to `perfbench/.build/<source hash>/classes`, so a checkout
compiles once and recompiles only when a source file changes.
"""
import glob
import hashlib
import os
import shutil
import subprocess


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not jars:
        raise BuildError(f"no Spark jars under {home}/jars (set SPARK_HOME)")
    return jars


def sources(root, bench):
    prog = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not prog:
        raise BuildError(f"no program sources under {root}/src/main/scala")
    return prog + sorted(glob.glob(os.path.join(bench, "src", "*.scala")))


def ensure(root, bench):
    """Return the classes directory, compiling first if needed."""
    srcs = sources(root, bench)
    h = hashlib.sha1()
    for f in srcs:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    top = os.path.join(bench, ".build")
    out = os.path.join(top, h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "ok")):
        return classes
    if os.path.isdir(top):
        shutil.rmtree(top)
    os.makedirs(classes)
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) < 3:
        raise BuildError("the Spark distribution has no Scala compiler jars")
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-cp", os.pathsep.join(jars),
           "-d", classes, "@" + argfile]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        raise BuildError("scalac failed:\n" + p.stdout[-4000:])
    open(os.path.join(out, "ok"), "w").close()
    return classes
