#!/usr/bin/env python3
"""Build file of the benchmark: compiles the graft library (src/main/scala)
and the benchmark's own sources (graftbench/src) with the Scala compiler
that ships in the Spark distribution, into .bench_build/classes.

A build is skipped when a stamp of every source file matches the last
successful build. Usage: python3 graftbench/build.py
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
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")


def spark_jars():
    """The Spark jars directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    sys.exit("build: no Spark jars found; set SPARK_HOME")


def scala_version():
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'scalaVersion\s*:=\s*"([^"]+)"', f.read())
    if not m:
        sys.exit("build: no scalaVersion in build.sbt")
    return m.group(1)


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def stamp(files, extra):
    h = hashlib.sha256(extra.encode())
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compile_into(name, files, classpath, key, jars, version):
    """Compile `files` into CLASSES/name unless the stamp `key` is current."""
    out = os.path.join(CLASSES, name)
    stamp_file = out + ".stamp"
    if os.path.isdir(out) and os.path.exists(stamp_file) and open(stamp_file).read() == key:
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [os.path.join(jars, f"scala-{m}-{version}.jar") for m in ("compiler", "library", "reflect")]
    missing = [j for j in compiler if not os.path.exists(j)]
    if missing:
        sys.exit(f"build: missing {missing}")
    argfile = os.path.join(BUILD, f"{name}.sources")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={BUILD}",
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.pathsep.join(classpath), "-d", tmp, "@" + argfile]
    print(f"build: compiling {len(files)} {name} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"build: {name} compilation failed")
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    with open(stamp_file, "w") as f:
        f.write(key)
    return out


def build():
    """Returns the runtime classpath (benchmark, library, Spark jars)."""
    lib_src = os.path.join(ROOT, "src", "main", "scala")
    bench_src = os.path.join(HERE, "src")
    lib_files, bench_files = sources(lib_src), sources(bench_src)
    if not lib_files:
        sys.exit(f"build: no library sources under {os.path.relpath(lib_src, ROOT)}")
    jars = spark_jars()
    version = scala_version()
    os.makedirs(CLASSES, exist_ok=True)
    spark_cp = os.path.join(jars, "*")
    lib_key = stamp(lib_files, version)
    lib = compile_into("main", lib_files, [spark_cp], lib_key, jars, version)
    bench = compile_into("bench", bench_files, [lib, spark_cp],
                         stamp(bench_files, lib_key), jars, version)
    return [bench, lib, spark_cp]


if __name__ == "__main__":
    build()
