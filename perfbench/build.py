"""Build file of the pipeline benchmark.

Compiles the repository's main Scala sources together with the benchmark
harness (perfbench/src) into .bench_build/classes, using the Scala
compiler that ships in the Spark jars directory that the repository's
build.sbt puts on its classpath (unmanagedBase). A digest of every
input source is stored next to the classes, so a second run over the same
tree skips the compile.

    python3 perfbench/build.py        # build (or confirm up to date)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD_DIR = ROOT / ".bench_build"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]
RESOURCE_DIR = ROOT / "src" / "main" / "resources"
COMPILE_TIMEOUT_S = 840


def spark_jars() -> Path:
    """The jars directory the repository's build.sbt names as unmanagedBase."""
    sbt = ROOT / "build.sbt"
    if not sbt.is_file():
        raise SystemExit(f"build: {sbt} not found")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    if not m or not Path(m.group(1)).is_dir():
        raise SystemExit("build: no Spark jars directory in build.sbt's unmanagedBase")
    return Path(m.group(1))


def _sources() -> list:
    missing = [d for d in SOURCE_DIRS if not d.is_dir()]
    if missing:
        raise SystemExit(f"build: source directory missing: {missing[0]}")
    return sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))


def _digest(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath() -> str:
    """Runtime classpath of a built tree: classes, resources, Spark jars."""
    return os.pathsep.join([
        str(BUILD_DIR / "classes"), str(RESOURCE_DIR), str(spark_jars() / "*")])


def build() -> None:
    files = _sources()
    digest = _digest(files)
    classes = BUILD_DIR / "classes"
    stamp = BUILD_DIR / "classes.sha256"
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == digest:
        return
    BUILD_DIR.mkdir(exist_ok=True)
    staging = BUILD_DIR / "classes.staging"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir()
    argfile = BUILD_DIR / "scalac.args"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    jars = str(spark_jars() / "*")
    tmp = BUILD_DIR / "tmp"
    tmp.mkdir(exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Xss16m", "-Xmx2g",
           "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(staging), "-cp", jars, f"@{argfile}"]
    print(f"build: compiling {len(files)} Scala files", file=sys.stderr, flush=True)
    proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr,
                          timeout=COMPILE_TIMEOUT_S)
    if proc.returncode != 0:
        raise SystemExit(f"build: scalac exited with {proc.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    staging.rename(classes)
    stamp.write_text(digest)


if __name__ == "__main__":
    build()
