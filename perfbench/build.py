"""Build step of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark's JVM side (`perfbench/scala`) with the Scala compiler that
ships in the Spark distribution, into `.bench_build/classes`.

    python3 perfbench/build.py

The output is stamped with a hash of every source file, so a later run
reuses it until a source changes. Spark's jars come from `$SPARK_HOME/jars`
(default `/opt/spark/jars`).
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BUILD = Path(".bench_build")
CLASSES = BUILD / "classes"
STAMP = BUILD / "classes.stamp"
SOURCE_DIRS = [Path("src/main/scala"), Path("perfbench/scala")]


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    jars = Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler jar under {jars}")
    return jars


def sources() -> list:
    missing = [str(d) for d in SOURCE_DIRS if not d.is_dir()]
    if missing:
        raise BuildError(f"source directories missing: {', '.join(missing)} "
                         "(run from the root of a spiderspark checkout)")
    return sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))


def source_hash(files) -> str:
    h = hashlib.sha256()
    for p in files:
        h.update(str(p).encode() + b"\0" + p.read_bytes() + b"\0")
    return h.hexdigest()


def classpath() -> str:
    return f"{CLASSES.resolve()}:{spark_jars()}/*"


def build(log=sys.stderr) -> str:
    """Compiles if the sources changed; returns the source hash."""
    files = sources()
    digest = source_hash(files)
    if STAMP.is_file() and STAMP.read_text() == digest and CLASSES.is_dir():
        return digest
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    print(f"[build] compiling {len(files)} Scala files", file=log, flush=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", f"{spark_jars()}/*",
           "scala.tools.nsc.Main", "-classpath", f"{spark_jars()}/*", "-nowarn",
           "-d", str(tmp)] + [str(p) for p in files]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    STAMP.write_text(digest)
    return digest


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
