#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark's own code (perfbench/src) into .bench_build/perfbench/classes with
the Scala compiler shipped among the Spark jars that build.sbt names as its
unmanagedBase. Skips the compile when no source changed since the last build.

    python3 perfbench/build.py        # prints the class directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
OUT = ROOT / ".bench_build" / "perfbench"
CLASSES = OUT / "classes"
SCALA_JARS = ["scala-compiler-2.13.17.jar", "scala-library-2.13.17.jar", "scala-reflect-2.13.17.jar"]


class BuildError(Exception):
    pass


def sources():
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        raise BuildError(f"engine sources not found at {engine.relative_to(ROOT)}")
    files = sorted(engine.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources found")
    return files


def spark_jars():
    """The jar directory build.sbt compiles against (`unmanagedBase`)."""
    sbt = ROOT / "build.sbt"
    m = sbt.is_file() and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    if not m:
        raise BuildError("build.sbt with an unmanagedBase jar directory not found")
    jars = Path(m.group(1))
    if not jars.is_dir():
        raise BuildError(f"Spark jars not found at {jars}")
    return jars


def classpath():
    return str(spark_jars() / "*")


def stamp(files):
    h = hashlib.sha256()
    for f in files + [Path(__file__)]:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if needed; return the class directory."""
    files = sources()
    cp = classpath()
    digest = stamp(files)
    stamp_file = OUT / "classes.stamp"
    if CLASSES.is_dir() and stamp_file.is_file() and stamp_file.read_text() == digest:
        return CLASSES
    OUT.mkdir(parents=True, exist_ok=True)
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    argfile = OUT / "scalac.args"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    compiler_cp = os.pathsep.join(str(spark_jars() / j) for j in SCALA_JARS)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={OUT}",
           "-cp", compiler_cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"]
    print(f"[build] compiling {len(files)} Scala files", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    stamp_file.write_text(digest)
    return CLASSES


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
