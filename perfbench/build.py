"""Build the benchmark: compile the program's main sources together with
the benchmark's own sources into one class directory.

The Scala compiler and every runtime dependency come from the Spark
distribution the program is built against (SPARK_HOME, else the
installation that holds `spark-submit` on PATH). A content stamp over
all sources skips the compile when nothing changed.

Usage: python3 perfbench/build.py   (from the root of a checkout)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build" / "perfbench"
CLASSES = BUILD / "classes"
STAMP = CLASSES / ".stamp"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", BENCH / "src"]
RESOURCES = ROOT / "src" / "main" / "resources"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("no Spark distribution found: set SPARK_HOME")
    return Path(home) / "jars"


def sources() -> list:
    missing = [d for d in SOURCE_DIRS if not d.is_dir()]
    if missing:
        raise BuildError("source tree missing: " + ", ".join(map(str, missing)))
    return sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))


def stamp_of(files: list) -> str:
    h = hashlib.sha256()
    res = sorted(RESOURCES.rglob("*")) if RESOURCES.is_dir() else []
    for p in files + [r for r in res if r.is_file()]:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def classpath() -> str:
    return os.pathsep.join([str(CLASSES), str(spark_jars() / "*")])


def build() -> None:
    files = sources()
    stamp = stamp_of(files)
    if STAMP.is_file() and STAMP.read_text() == stamp:
        return
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    jars = str(spark_jars() / "*")
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", jars, "@" + str(argfile)]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=800)
    if proc.returncode != 0:
        raise BuildError("compile failed:\n" + proc.stdout[-4000:])
    if RESOURCES.is_dir():
        shutil.copytree(RESOURCES, tmp, dirs_exist_ok=True)
    (tmp / ".stamp").write_text(stamp)
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(1)
