#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine's sources (src/main/scala) together with the benchmark's
own Scala code (perfbench/src) into <build dir>/classes, using the Scala compiler
that ships among Spark's jars, and copies the engine's resources beside the
classes. A stamp over the sources skips the compile when nothing changed.

Usage: python3 perfbench/build.py [build_dir]   (default: .bench_build)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
ENGINE_RES = ROOT / "src" / "main" / "resources"
BENCH_SRC = Path(__file__).resolve().parent / "src"


def spark_jars() -> Path:
    return Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"


def sources() -> list:
    engine = sorted(ENGINE_SRC.rglob("*.scala")) if ENGINE_SRC.is_dir() else []
    if not engine:
        raise SystemExit(f"build: no engine sources under {ENGINE_SRC}")
    return engine + sorted(BENCH_SRC.glob("*.scala"))


def build(build_dir: Path) -> Path:
    """Compile if the sources changed; return the classes directory."""
    srcs = sources()
    digest = hashlib.sha256()
    for f in srcs:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = build_dir / "classes.stamp"
    classes = build_dir / "classes"
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == digest.hexdigest():
        return classes
    jars = spark_jars()
    if not jars.is_dir():
        raise SystemExit(f"build: Spark jars not found at {jars}")
    tmp = build_dir / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-classpath", f"{jars}/*", "-d", str(tmp)] + [str(f) for f in srcs]
    subprocess.run(cmd, check=True, stdout=sys.stderr, timeout=600)
    if ENGINE_RES.is_dir():
        shutil.copytree(ENGINE_RES, tmp, dirs_exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp.write_text(digest.hexdigest())
    return classes


if __name__ == "__main__":
    out = Path(sys.argv[1]) if len(sys.argv) > 1 else ROOT / ".bench_build"
    print(build(out.resolve()))
