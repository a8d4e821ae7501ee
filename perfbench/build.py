#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the program
(src/main/scala) together with the harness (perfbench/src) into
.bench_build/classes, using the Scala compiler that ships among the Spark
jars. A build is skipped when no source changed since the last one.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import hashlib
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PROGRAM = ROOT / "src" / "main" / "scala"
HARNESS = Path(__file__).resolve().parent / "src"


def build_dir() -> Path:
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def spark_jars() -> Path:
    return Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"


def classpath(classes: Path) -> str:
    return f"{classes}{os.pathsep}{spark_jars() / '*'}"


def sources():
    for root in (PROGRAM, HARNESS):
        yield from sorted(root.rglob("*.scala"))


def ensure() -> Path:
    """Return the classes dir, compiling first if any source changed."""
    if not (PROGRAM / "graft" / "SparkEntry.scala").is_file():
        raise SystemExit(f"perfbench: program sources not found under {PROGRAM}")
    if not spark_jars().is_dir():
        raise SystemExit(f"perfbench: Spark jars not found at {spark_jars()}")
    files = list(sources())
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    classes = build_dir() / "classes"
    stamp_file = build_dir() / "classes.stamp"
    if stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    subprocess.run(["rm", "-rf", str(classes)], check=True)
    classes.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", str(spark_jars() / "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(classes)]
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    result = subprocess.run(cmd + [str(f) for f in files], stdout=sys.stderr)
    if result.returncode != 0:
        raise SystemExit("perfbench: compilation failed")
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    print(ensure())
