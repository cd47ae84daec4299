"""Build file of the benchmark.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (perfbench/src) into one class directory, using the Scala
compiler that ships among Spark's jars (the jars the program is built
against). A stamp over every source file skips the compile when nothing
changed. Usage:

    python3 perfbench/build.py          # build if stale, print the class dir
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
PROGRAM_RES = ROOT / "src" / "main" / "resources"
BENCH_SRC = HERE / "src"
BUILD_DIR = ROOT / ".bench_build"
CLASSES = BUILD_DIR / "classes"
STAMP = BUILD_DIR / "classes.stamp"


class BuildError(Exception):
    pass


def spark_jars() -> pathlib.Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(pathlib.Path(submit).resolve().parent.parent)
    if not home or not (pathlib.Path(home) / "jars").is_dir():
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return pathlib.Path(home) / "jars"


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return str(pathlib.Path(home) / "bin" / "java") if home else "java"


def sources() -> list:
    if not PROGRAM_SRC.is_dir():
        raise BuildError(f"program sources missing: {PROGRAM_SRC.relative_to(ROOT)}")
    found = sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not any(p.is_relative_to(PROGRAM_SRC) for p in found):
        raise BuildError("no program sources to build")
    return found


def stamp_of(files: list) -> str:
    h = hashlib.sha256()
    for p in files + [pathlib.Path(__file__).resolve()]:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def ensure_built() -> pathlib.Path:
    """Compile when the stamp differs; return the class directory."""
    files = sources()
    jars = spark_jars()
    stamp = stamp_of(files)
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == stamp:
        return CLASSES
    tmp = BUILD_DIR / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = f"{jars}/*"
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-d", str(tmp), "-classpath", cp, "-nowarn"] + [str(p) for p in files]
    print(f"building {len(files)} sources ...", file=sys.stderr, flush=True)
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scala compile failed (exit {res.returncode})")
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    STAMP.write_text(stamp)
    return CLASSES


def classpath(classes: pathlib.Path) -> str:
    parts = [str(classes)]
    if PROGRAM_RES.is_dir():
        parts.append(str(PROGRAM_RES))
    parts.append(f"{spark_jars()}/*")
    return os.pathsep.join(parts)


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
