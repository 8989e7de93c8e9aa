#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark harness (perfbench/harness) into one class directory with the
Scala compiler that ships with the Spark distribution ($SPARK_HOME, else the
jar directory build.sbt names), so the build needs neither sbt nor a
network.

Usage: python3 perfbench/build.py   (prints the class directory)

Output goes to $CARGO_TARGET_DIR if set, else .bench_build, under the
repository root. A fingerprint of every source skips a rebuild when nothing
changed.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    `unmanagedBase` the repository's build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    m = re.search(r'unmanagedBase := file\("([^"]+)"\)',
                  (ROOT / "build.sbt").read_text())
    if not m:
        raise RuntimeError("no Spark jars: set SPARK_HOME")
    return Path(m.group(1))


def sources():
    srcs = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    srcs += sorted((ROOT / "perfbench" / "harness").rglob("*.scala"))
    return srcs


def classpath(classes):
    return f"{classes}:{spark_jars()}/*"


def build():
    """Compile if needed; return the class directory. Raises on failure."""
    if not (ROOT / "src" / "main" / "scala").is_dir():
        raise RuntimeError("no program sources under src/main/scala")
    jars = spark_jars()
    out = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    if not out.is_absolute():
        out = ROOT / out
    classes = out / "classes"
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = out / "classes.sha256"
    if stamp.exists() and stamp.read_text() == h.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", str(classes),
           "-classpath", f"{jars}/*"] + [str(p) for p in srcs]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise RuntimeError("compile failed:\n" + r.stdout[-4000:])
    stamp.write_text(h.hexdigest())
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except Exception as e:  # noqa: BLE001 - report and fail
        print(e, file=sys.stderr)
        sys.exit(1)
