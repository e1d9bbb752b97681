#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
harness (perfbench/harness) with the Scala compiler that ships among the
Spark jars, without sbt and without touching the repo's own build.

Usage: python3 perfbench/build.py            (from the repo root)

Outputs go to .bench_build/{engine,harness}; a directory is rebuilt only
when the hash of its sources changes. Prints the runtime classpath.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"


def spark_jars(root=ROOT):
    """The Spark jar directory: $SPARK_HOME/jars, else the repo's own
    build.sbt `unmanagedBase`, which names the same directory."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = root / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    raise SystemExit("build: no Spark jar directory (set SPARK_HOME)")


def sources(d):
    return sorted(p for p in Path(d).rglob("*.scala") if p.is_file())


def stamp(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def compile_dir(name, srcs, classpath):
    """Compile `srcs` into .bench_build/<name>/classes unless up to date."""
    if not srcs:
        raise SystemExit(f"build: no sources for {name}")
    dest = OUT / name
    key = stamp(srcs, classpath)
    if (dest / "STAMP").is_file() and (dest / "STAMP").read_text() == key:
        return dest / "classes"
    tmp = OUT / f"{name}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "classes").mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx1536m", "-cp", classpath, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp / "classes"), "-classpath", classpath,
           *map(str, srcs)]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: compiling {name} failed")
    (tmp / "STAMP").write_text(key)
    shutil.rmtree(dest, ignore_errors=True)
    tmp.rename(dest)
    return dest / "classes"


def build(root=ROOT):
    """Build engine and harness; return the classpath to run the harness."""
    src = root / "src" / "main" / "scala"
    if not src.is_dir():
        raise SystemExit("build: no engine sources (src/main/scala)")
    jars = f"{spark_jars(root)}/*"
    engine = compile_dir("engine", sources(src), jars)
    cp = os.pathsep.join([str(engine), jars])
    harness = compile_dir("harness", sources(root / "perfbench" / "harness"), cp)
    return os.pathsep.join([str(harness), cp])


if __name__ == "__main__":
    print(build())
