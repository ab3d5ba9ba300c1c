#!/usr/bin/env python3
"""Build file of the migration benchmark.

Compiles the program (`src/main/scala`) and the benchmark's own sources
(`migbench/src`) with the Scala 2.13 compiler that ships among the Spark
jars, against the same jar directory the program's `build.sbt` names as its
`unmanagedBase`. Outputs land under `.migbench/build` in the checkout. A
source-hash stamp per output tree makes a rebuild a no-op when nothing
changed, so only the first run in a checkout pays for compilation.

Usage: python3 migbench/build.py        (prints the run classpath)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
OUT = os.path.join(ROOT, ".migbench", "build")


def spark_jars():
    """Jar directory of the program's build (its `unmanagedBase`)."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise RuntimeError("build.sbt names no unmanagedBase jar directory")
    jars = sorted(glob.glob(os.path.join(m.group(1), "*.jar")))
    if not jars:
        raise RuntimeError(f"no jars under {m.group(1)}")
    return jars


def sources(src_dir):
    files = sorted(glob.glob(os.path.join(src_dir, "**", "*.scala"), recursive=True))
    if not files:
        raise RuntimeError(f"no Scala sources under {src_dir}")
    return files


def compile_tree(name, srcs, classpath):
    """Compile `srcs` into OUT/name unless its stamp matches the sources."""
    dest = os.path.join(OUT, name)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(classpath).encode())
    stamp = os.path.join(OUT, name + ".stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return dest
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    argfile = os.path.join(OUT, name + ".args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-d", dest, "-classpath", ":".join(classpath),
                           "-nowarn"] + srcs) + "\n")
    compiler_cp = ":".join(classpath)
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
                        "-cp", compiler_cp, "scala.tools.nsc.Main", "@" + argfile],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise RuntimeError(f"compiling {name} failed (exit {r.returncode})")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return dest


def build():
    """Compile what changed; return the classpath to run the benchmark with."""
    jars = spark_jars()
    program = compile_tree("program", sources(os.path.join(ROOT, "src", "main", "scala")), jars)
    bench = compile_tree("bench", sources(os.path.join(BENCH_DIR, "src")), [program] + jars)
    return [bench, program] + jars


if __name__ == "__main__":
    print(":".join(build()))
