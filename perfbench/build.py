"""Builds graft's main sources and the benchmark's JVM side from source.

Compiles `src/main/scala` and `perfbench/scala` with the Scala compiler
that ships in Spark's jars into `.bench_build/classes` at the root of the
checkout. A stamp over every source file and the jar list skips the build
when nothing changed. Run it alone with `python3 perfbench/build.py`.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "scala"]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    jars = Path(home or "") / "jars"
    if not home or not any(jars.glob("spark-sql_*.jar")):
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def sources():
    if not SOURCE_DIRS[0].is_dir():
        raise BuildError(f"no graft sources at {SOURCE_DIRS[0]}")
    return sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))


def ensure():
    """Returns the runtime classpath, compiling first if needed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    h.update("\n".join(sorted(j.name for j in jars.glob("*.jar"))).encode())
    stamp = OUT / "stamp"
    classes = OUT / "classes"
    if not (stamp.exists() and stamp.read_text() == h.hexdigest()):
        tmp = OUT / "classes.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        args = OUT / "sources.txt"
        args.write_text("\n".join(str(p) for p in srcs) + "\n")
        r = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*",
             "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
             "-d", str(tmp), f"@{args}"],
            capture_output=True, text=True, cwd=tmp)
        if r.returncode != 0:
            raise BuildError("scalac failed:\n" + r.stdout[-4000:] +
                             r.stderr[-4000:])
        shutil.rmtree(classes, ignore_errors=True)
        tmp.rename(classes)
        stamp.write_text(h.hexdigest())
    return f"{classes}:{jars}/*"


if __name__ == "__main__":
    try:
        print(ensure())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
