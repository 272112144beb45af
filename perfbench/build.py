#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and
the harness (perfbench/scala) with the Scala compiler that ships in the
Spark distribution's jars, into <root>/.bench_build/classes.

The build is skipped when a stamp over every source file matches the last
build. Usage: python3 perfbench/build.py [<repo root>]
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def spark_jars() -> Path:
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    jars bundled with the pyspark package."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    try:
        import pyspark
        jars = Path(pyspark.__file__).parent / "jars"
        if jars.is_dir():
            return jars
    except ImportError:
        pass
    raise SystemExit("build: no Spark jars found (set SPARK_HOME)")


def sources(root: Path) -> list:
    main = root / "src" / "main" / "scala"
    if not (main / "graft" / "SparkEntry.scala").is_file():
        raise SystemExit(f"build: no engine sources under {main}")
    return sorted(main.rglob("*.scala")) + sorted((HERE / "scala").rglob("*.scala"))


def build(root: Path) -> Path:
    out = root / ".bench_build"
    classes = out / "classes"
    srcs = sources(root)
    jars = spark_jars()
    h = hashlib.sha256(str(jars).encode())
    for s in srcs:
        h.update(str(s.relative_to(root)).encode())
        h.update(s.read_bytes())
    stamp = h.hexdigest()
    stamp_file = out / "classes.stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", str(tmp)] + [str(s) for s in srcs]
    print(f"build: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac exited {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    print(build(Path(sys.argv[1]).resolve() if len(sys.argv) > 1 else HERE.parent))
