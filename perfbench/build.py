#!/usr/bin/env python3
"""Build file of the benchmark: compiles the repository's main sources
and the benchmark's own Scala sources with the Scala compiler that ships
among the Spark jars, into `.bench_build/` at the root of the checkout.

The jar directory is the one `build.sbt` names in `unmanagedBase`
(falling back to `$SPARK_HOME/jars`), and the Scala version is the
build's `scalaVersion`, so the classes match what `sbt compile` makes.
A build is skipped when no source changed since the last one.

    python3 perfbench/build.py        # prints the classpath to run with
"""
import hashlib
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
OUT = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def _sources(top):
    found = []
    for d, _, files in os.walk(top):
        found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def _build_settings():
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt) or not os.path.isdir(MAIN_SRC):
        raise BuildError(f"no build.sbt and src/main/scala under {ROOT}: "
                         "run from the root of a checkout of the repository")
    text = open(sbt, encoding="utf-8").read()
    version = re.search(r'scalaVersion\s*:=\s*"([^"]+)"', text)
    if not version:
        raise BuildError("build.sbt names no scalaVersion")
    base = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', text)
    jars = base.group(1) if base else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars):
        raise BuildError(f"Spark jar directory {jars} not found")
    return version.group(1), jars


def _scalac(version, jars, classpath, dest, sources):
    tool = [os.path.join(jars, f"scala-{p}-{version}.jar")
            for p in ("compiler", "library", "reflect")]
    missing = [t for t in tool if not os.path.isfile(t)]
    if missing:
        raise BuildError(f"Scala {version} compiler jars not found: {missing}")
    os.makedirs(dest, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(tool),
           "scala.tools.nsc.Main", "-usejavacp:false", "-nowarn",
           "-classpath", classpath, "-d", dest] + sources
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if proc.returncode != 0:
        raise BuildError(f"scalac failed for {dest}:\n{proc.stdout[-4000:]}")


def build():
    """Compile if needed; return the runtime classpath."""
    version, jars = _build_settings()
    main, bench = _sources(MAIN_SRC), _sources(BENCH_SRC)
    digest = hashlib.sha256(f"{version}\n{jars}\n".encode())
    for f in main + bench:
        digest.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(OUT, "stamp")
    main_out, bench_out = os.path.join(OUT, "main"), os.path.join(OUT, "bench")
    jar_glob = os.path.join(jars, "*")
    classpath = os.pathsep.join([bench_out, main_out, jar_glob])
    if os.path.isfile(stamp) and open(stamp).read() == digest.hexdigest():
        return classpath
    subprocess.run(["rm", "-rf", OUT], check=True)
    _scalac(version, jars, jar_glob, main_out, main)
    _scalac(version, jars, os.pathsep.join([main_out, jar_glob]), bench_out, bench)
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return classpath


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build: {e}")
