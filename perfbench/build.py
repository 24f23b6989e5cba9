"""Build the benchmark: compile the program (`src/main/scala`) and the
harness (`perfbench/src`) into `.bench_build/classes` at the repository
root with the Scala compiler shipped in the Spark distribution.

The Spark distribution is found through `SPARK_HOME`, else through
`spark-submit` on `PATH`. A stamp of the source contents skips the
compile when nothing changed.

Usage: python3 perfbench/build.py   (prints the runtime classpath)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
REPO = BENCH_DIR.parent
PROGRAM_SRC = REPO / "src" / "main" / "scala"
HARNESS_SRC = BENCH_DIR / "src"
OUT = REPO / ".bench_build"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("no Spark distribution: set SPARK_HOME or put spark-submit on PATH")
    return Path(home) / "jars"


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    exe = Path(home) / "bin" / "java" if home else None
    if exe and exe.is_file():
        return str(exe)
    found = shutil.which("java")
    if not found:
        raise BuildError("no java: set JAVA_HOME or put java on PATH")
    return found


def sources() -> list:
    if not PROGRAM_SRC.is_dir():
        raise BuildError(f"program sources missing: {PROGRAM_SRC.relative_to(REPO)}")
    files = sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(HARNESS_SRC.rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources found")
    return files


def build() -> str:
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    classes = OUT / "classes"
    cp = f"{classes}{os.pathsep}{jars}{os.sep}*"
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(REPO)).encode())
        digest.update(f.read_bytes())
    stamp = OUT / "stamp"
    if stamp.is_file() and stamp.read_text() == digest.hexdigest() and classes.is_dir():
        return cp
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", f"{jars}{os.sep}*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-classpath", f"{jars}{os.sep}*", f"@{argfile}"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout)
        raise BuildError(f"scalac failed with exit code {proc.returncode}")
    stamp.write_text(digest.hexdigest())
    return cp


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.stderr.write(f"build failed: {e}\n")
        sys.exit(2)
