#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the library (src/main/scala) and the benchmark driver
(perfbench/src) with the Scala compiler that ships in Spark's jar
directory, into `.bench_build/` at the root of the checkout.  Each part is
rebuilt only when the hash of its sources changes, so the first run in a
checkout pays the build and later runs start at once.

Usage: python3 perfbench/build.py      (prints the classpath on success)
"""
import hashlib
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """Spark's jar directory, $SPARK_HOME/jars."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.environ.get("SPARK_HOME") or not os.path.isdir(jars):
        raise SystemExit("perfbench: no Spark jars found (set SPARK_HOME)")
    return jars


def sources(rel):
    top = os.path.join(ROOT, rel)
    out = []
    for d, _, files in os.walk(top):
        out.extend(os.path.join(d, f) for f in files if f.endswith(".scala"))
    if not out:
        raise SystemExit(f"perfbench: no Scala sources under {rel}")
    return sorted(out)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_part(name, rel, extra_cp, dep_stamp=""):
    files = sources(rel)
    out = os.path.join(BUILD, name)
    stamp = os.path.join(BUILD, name + ".stamp")
    want = digest(files) + "|" + dep_stamp
    if os.path.exists(stamp) and open(stamp).read() == want:
        return out, want
    os.makedirs(BUILD, exist_ok=True)
    subprocess.run(["rm", "-rf", out], check=True)
    os.makedirs(out)
    argfile = os.path.join(BUILD, name + ".sources")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={BUILD}",
           "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-Ybackend-parallelism", "2",
           "-classpath", cp + (os.pathsep + extra_cp if extra_cp else ""),
           "-d", out, "@" + argfile]
    print(f"perfbench: compiling {rel} ({len(files)} files)", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile of {rel} failed")
    with open(stamp, "w") as fh:
        fh.write(want)
    return out, want


def build():
    """Returns the runtime classpath (library, benchmark, Spark jars)."""
    lib, lib_stamp = compile_part(
        "lib-classes", os.path.join("src", "main", "scala"), "")
    bench, _ = compile_part(
        "bench-classes", os.path.join("perfbench", "src"), lib, lib_stamp)
    return os.pathsep.join([bench, lib, os.path.join(spark_jars(), "*")])


if __name__ == "__main__":
    print(build())
