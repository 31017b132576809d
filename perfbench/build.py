#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark's own (perfbench/src) into
.bench_build/perfbench/classes, using the Scala compiler that ships with
Spark's jars. A stamp of the source contents skips the compile when
nothing changed.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

OUT = Path(".bench_build") / "perfbench"
SOURCE_ROOTS = [Path("src") / "main" / "scala", Path("perfbench") / "src"]


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(os.path.realpath(submit)).parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        sys.exit("build: no Spark installation found (set SPARK_HOME)")
    return Path(home) / "jars"


def sources() -> list:
    for root in SOURCE_ROOTS:
        if not root.is_dir():
            sys.exit(f"build: missing source directory {root}")
    return sorted(p for root in SOURCE_ROOTS for p in root.rglob("*.scala"))


def build() -> Path:
    """Compile if needed; return the classes directory."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    classes = OUT / "classes"
    stamp_file = OUT / "stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp and classes.is_dir():
        return classes
    shutil.rmtree(OUT, ignore_errors=True)
    classes.mkdir(parents=True)
    cp = f"{jars}/*"
    args_file = OUT / "sources.txt"
    args_file.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-classpath", cp, f"@{args_file}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        shutil.rmtree(OUT, ignore_errors=True)
        sys.exit(f"build: scalac failed with code {r.returncode}")
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    print(build())
