#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's sources (src/main/scala of
the checkout) together with the harness (perfbench/src) into one class
directory, with the Scala compiler that ships in Spark's jar directory.

The output lands in <checkout>/.bench_build/classes and is reused while the
sources are unchanged (a content hash of every .scala file is the stamp).

Usage: python3 perfbench/build.py        (from the checkout root)
"""
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        sys.exit("build: no Spark jar directory (set SPARK_HOME)")
    return jars


def sources():
    out = []
    for base in (os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(BENCH, "src")):
        if not os.path.isdir(base):
            sys.exit(f"build: missing source directory {base}")
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def classpath(jars):
    return ":".join(os.path.join(jars, j) for j in sorted(os.listdir(jars))
                    if j.endswith(".jar"))


def build(quiet=True):
    """Returns the class directory, compiling first if sources changed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, jars
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(OUT, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={OUT}", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", classpath(jars), "@" + argfile]
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        sys.exit(f"build: scalac failed (exit {rc}), see {log}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, jars


if __name__ == "__main__":
    os.makedirs(OUT, exist_ok=True)
    print(build()[0])
