"""Build file of the benchmark: compiles graft's sources (src/main/scala)
together with the harness (perfbench/src) with the Scala compiler that
ships in Spark's jars directory. Output goes to perfbench/.build; a build
is skipped when the sources hash the same as the last one.

    python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
REPO = BENCH.parent
SOURCES = [REPO / "src" / "main" / "scala", BENCH / "src"]
OUT = BENCH / ".build"
CLASSES = OUT / "classes"
STAMP = OUT / "stamp"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = Path(home or "") / "jars"
    if not home or not jars.is_dir():
        raise SystemExit("build: Spark jars not found (set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = Path(home) / "bin" / "java" if home else shutil.which("java")
    if not exe or not Path(exe).exists():
        raise SystemExit("build: java not found (set JAVA_HOME)")
    return str(exe)


def source_files():
    files = []
    for root in SOURCES:
        if not root.is_dir():
            raise SystemExit(f"build: missing source directory {root}")
        files += sorted(p for p in root.rglob("*.scala"))
    return files


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(REPO)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath():
    return f"{CLASSES}{os.pathsep}{spark_jars()}/*"


def build(log=sys.stderr):
    files = source_files()
    want = digest(files)
    if STAMP.exists() and STAMP.read_text() == want and CLASSES.is_dir():
        return False
    if CLASSES.exists():
        shutil.rmtree(CLASSES)
    CLASSES.mkdir(parents=True)
    args_file = OUT / "sources.txt"
    args_file.write_text("\n".join(str(f) for f in files) + "\n")
    jars = f"{spark_jars()}/*"
    cmd = [java(), "-Xss8m", "-Xmx3g", "-cp", jars, "scala.tools.nsc.Main",
           "-d", str(CLASSES), "-classpath", jars, "-nowarn",
           "-Ybackend-parallelism", "4", f"@{args_file}"]
    print(f"build: compiling {len(files)} files", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log, timeout=840)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    STAMP.write_text(want)
    return True


if __name__ == "__main__":
    build()
