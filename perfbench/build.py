#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library (src/main) together with
the benchmark's own Scala sources (perfbench/src) into one class directory.

It calls the Scala compiler that ships with the Spark distribution directly
(no sbt, no dependency resolution), so it needs only a JDK and a Spark 4.x
install, located through SPARK_HOME or the `spark-submit` on PATH. The output
goes to `.bench_build/<digest>/classes` under the checkout, keyed by a digest
of every source file: an unchanged tree is never compiled twice.

    python3 perfbench/build.py      # from the repository root
"""
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


def spark_jars():
    """Directory of the Spark distribution's jars."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit is None:
            raise SystemExit("perfbench: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise SystemExit(f"perfbench: no jars directory under {home}")
    return jars


def source_files(root):
    """(scala sources, resource files) of the library and the benchmark."""
    scala, resources = [], []
    for base in ("src/main/scala", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(root, base)):
            scala += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    res_root = os.path.join(root, "src/main/resources")
    for d, _, files in os.walk(res_root):
        resources += [os.path.join(d, f) for f in files]
    return sorted(scala), sorted(resources)


def classpath(jars):
    return ":".join(sorted(os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar")))


def ensure_built(root):
    """Compile if needed; returns the class directory."""
    scala, resources = source_files(root)
    if not any(f.startswith(os.path.join(root, "src/main/scala")) for f in scala):
        raise SystemExit("perfbench: no library sources under src/main/scala")
    jars = spark_jars()
    h = hashlib.sha256()
    for f in scala + resources + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(root, BUILD_DIR, h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "DONE")):
        return classes
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    compiler = [os.path.join(jars, j) for j in sorted(os.listdir(jars))
                if j.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise SystemExit("perfbench: the Spark distribution ships no Scala compiler")
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(scala) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath(jars),
           "-d", classes, "@" + argfile]
    r = subprocess.run(cmd, cwd=root)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compilation failed ({r.returncode})")
    res_root = os.path.join(root, "src/main/resources")
    for f in resources:
        dst = os.path.join(classes, os.path.relpath(f, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    open(os.path.join(out, "DONE"), "w").close()
    return classes


if __name__ == "__main__":
    print(ensure_built(os.getcwd()))
    sys.exit(0)
