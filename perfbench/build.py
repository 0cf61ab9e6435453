#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark (perfbench/src) into one class directory with the
Scala compiler that ships with Spark, no sbt involved.

Usage (from the root of a checkout):  python3 perfbench/build.py

The output goes to $CARGO_TARGET_DIR (default .bench_build) under
classes/, with a stamp of every source file's content so an unchanged
tree is not recompiled. Exits non-zero when the program sources are
missing or do not compile.
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys


def build_dir(root):
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(root, d)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit("build: no Spark jars found (set SPARK_HOME)")
    return jars


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"),
                             recursive=True))
    if not prog:
        raise SystemExit("build: no program sources under src/main/scala")
    return prog + bench


def ensure_built(root):
    """Compile if the sources changed since the last build; returns the
    class directory."""
    out = build_dir(root)
    os.makedirs(out, exist_ok=True)
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if (os.path.isdir(classes) and os.path.exists(stamp_file)
                and open(stamp_file).read() == stamp):
            return classes
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        if os.path.exists(stamp_file):
            os.remove(stamp_file)
        argfile = os.path.join(out, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        cp = os.path.join(spark_jars(), "*")
        cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
               "-Djava.io.tmpdir=" + out, "-cp", cp,
               "scala.tools.nsc.Main", "-nowarn", "-d", classes,
               "-classpath", cp, "@" + argfile]
        r = subprocess.run(cmd, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout)
            raise SystemExit("build: scalac failed")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return classes


if __name__ == "__main__":
    print(ensure_built(os.getcwd()))
