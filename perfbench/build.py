#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala, plus
src/main/resources) and the benchmark (perfbench/src) into one class
directory with the Scala compiler that ships in Spark's jars directory.

    python3 perfbench/build.py        # from the root of a checkout

The build is keyed by a hash of every input file; an unchanged tree is not
rebuilt. Output: .bench_build/perfbench/classes.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        sys.exit("Spark jars not found: set SPARK_HOME")
    return jars


def _inputs(root):
    engine = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(engine):
        sys.exit(f"engine sources not found under {engine}")
    scala = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True))
    scala += sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    res_root = os.path.join(root, "src", "main", "resources")
    res = sorted(p for p in glob.glob(os.path.join(res_root, "**", "*"), recursive=True)
                 if os.path.isfile(p))
    return scala, res_root, res


def ensure_built(root, out):
    scala, res_root, res = _inputs(root)
    jars = spark_jars()
    h = hashlib.sha256()
    for p in scala + res:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "build.stamp")
    if os.path.isdir(classes) and os.path.isfile(stamp_file) \
            and open(stamp_file).read() == stamp:
        return classes

    compiler = glob.glob(os.path.join(jars, "scala-compiler-*.jar"))
    if not compiler:
        sys.exit(f"no scala-compiler jar in {jars}")
    os.makedirs(out, exist_ok=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(scala))
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    print(f"building {len(scala)} Scala sources into {classes}", file=sys.stderr)
    r = subprocess.run(cmd)
    if r.returncode != 0:
        sys.exit(f"build failed ({r.returncode})")
    for p in res:
        dst = os.path.join(tmp, os.path.relpath(p, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    root = os.path.dirname(HERE)
    print(ensure_built(root, os.path.join(root, ".bench_build", "perfbench")))
