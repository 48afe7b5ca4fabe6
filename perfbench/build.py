#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the engine (`src/main/scala`)
and the benchmark (`perfbench/src`) into `.bench_build/graftbench/classes`
with the Scala compiler that ships among the Spark jars.

Usage: python3 perfbench/build.py   (from the repository root)

The build is skipped when a stamp of every source file and of the jar list
matches the last successful build.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build" / "graftbench"
SOURCES = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]


def spark_jars() -> Path:
    """$SPARK_HOME/jars, else the `unmanagedBase` directory build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if m and Path(m.group(1)).is_dir():
        return Path(m.group(1))
    sys.exit("perfbench: no Spark jars (set SPARK_HOME)")


def jars() -> list:
    return sorted(str(p) for p in spark_jars().glob("*.jar"))


def classpath() -> str:
    """Runtime classpath: compiled classes, the engine's resources, Spark."""
    return os.pathsep.join([str(OUT / "classes"), str(ROOT / "src" / "main" / "resources")] + jars())


def build() -> None:
    for d in SOURCES:
        if not d.is_dir():
            sys.exit(f"perfbench: missing source directory {d.relative_to(ROOT)}")
    srcs = sorted(p for d in SOURCES for p in d.rglob("*.scala"))
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    for j in jars():
        h.update(j.encode())
    if stamp() == h.hexdigest():
        return
    staging = OUT / "classes.tmp"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    (OUT / "sources.txt").write_text("\n".join(str(p) for p in srcs) + "\n")
    compiler = [j for j in jars() if re.search(r"/scala-(compiler|library|reflect)-[^/]*\.jar$", j)]
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(jars()),
           "-d", str(staging), "@" + str(OUT / "sources.txt")]
    print(f"perfbench: compiling {len(srcs)} Scala files", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"perfbench: compilation failed ({r.returncode})")
    shutil.rmtree(OUT / "classes", ignore_errors=True)
    staging.rename(OUT / "classes")
    (OUT / "stamp").write_text(h.hexdigest())


def stamp() -> str:
    """SHA-256 over the sources and jars of the last successful build."""
    p = OUT / "stamp"
    return p.read_text() if p.exists() else ""


if __name__ == "__main__":
    build()
