#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine's sources (src/main/scala) together with the
benchmark's own (perfbench/src) with the Scala compiler that ships in the
Spark distribution's jars, into .bench_build/classes. No sbt, no network:
the classpath is the Spark jars directory build.sbt names as its
unmanagedBase ($SPARK_HOME/jars when build.sbt names none).
A content stamp skips the compile when no source changed.

    python3 perfbench/build.py      # build (or confirm up to date)
"""
import hashlib
import os
import re
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = HERE / "src"
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"
STAMP = BUILD / "classes.stamp"


def spark_jars():
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text()) \
        if (ROOT / "build.sbt").exists() else None
    return Path(m.group(1)) if m else Path(os.environ.get("SPARK_HOME", "spark")) / "jars"


SPARK_JARS = spark_jars()


def sources():
    return sorted(ENGINE_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))


def classpath():
    return f"{CLASSES}{os.pathsep}{SPARK_JARS}/*"


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    h.update("\n".join(sorted(p.name for p in SPARK_JARS.glob("*.jar"))).encode())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if needed; returns the runtime classpath."""
    if not (ENGINE_SRC / "graft").is_dir():
        raise SystemExit(f"engine sources not found under {ENGINE_SRC}")
    if not any(SPARK_JARS.glob("scala-compiler-*.jar")):
        raise SystemExit(f"no Scala compiler in {SPARK_JARS}")
    files = sources()
    want = stamp(files)
    if CLASSES.is_dir() and STAMP.exists() and STAMP.read_text() == want:
        return classpath()
    if CLASSES.exists():
        subprocess.run(["rm", "-rf", str(CLASSES)], check=True)
    CLASSES.mkdir(parents=True)
    print(f"perfbench: compiling {len(files)} Scala files", file=log, flush=True)
    args_file = BUILD / "scalac.args"
    args_file.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", f"{SPARK_JARS}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(CLASSES), f"@{args_file}"]
    proc = subprocess.run(cmd, stdout=log, stderr=log)
    if proc.returncode != 0:
        raise SystemExit(f"compile failed ({proc.returncode})")
    STAMP.write_text(want)
    return classpath()


if __name__ == "__main__":
    build()
    print(f"perfbench: classes in {CLASSES}", file=sys.stderr)
