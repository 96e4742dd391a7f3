#!/usr/bin/env python3
"""Build graft's main sources together with the benchmark program.

    python3 perfbench/build.py

Compiles src/main/scala and perfbench/src with the Scala compiler that ships
in Spark's jar directory ($SPARK_HOME/jars, else the jars directory beside a
Spark bin directory on PATH) into <build>/classes, where <build> is
$CARGO_TARGET_DIR or .bench_build under the repository root. A stamp of
every source file's path and content makes a second build of the same tree
a no-op. Exits non-zero when the sources are missing or do not compile.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]
RESOURCES = ROOT / "src" / "main" / "resources"


def build_dir() -> Path:
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def spark_jars() -> Path:
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = Path(d).parent
        if (Path(d) / "spark-submit").is_file() and (home / "jars").is_dir():
            return home / "jars"
    raise SystemExit("[build] set SPARK_HOME or put Spark's bin directory on PATH")


def classpath(classes: Path) -> str:
    return f"{classes}{os.pathsep}{spark_jars()}/*"


def sources() -> list:
    files = []
    for d in SOURCE_DIRS:
        if not d.is_dir():
            raise SystemExit(f"[build] missing source directory {d.relative_to(ROOT)}")
        files += sorted(p for p in d.rglob("*.scala") if p.is_file())
    return files


def stamp(files: list) -> str:
    h = hashlib.sha256()
    extra = sorted(p for p in RESOURCES.rglob("*") if p.is_file()) if RESOURCES.is_dir() else []
    for p in files + extra:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(timeout: float = 850) -> Path:
    """Compile if the sources changed; return the classes directory."""
    files = sources()
    out = build_dir()
    classes = out / "classes"
    want = stamp(files)
    stamp_file = out / "classes.stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == want:
        return classes
    staging = out / "classes.tmp"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    jars = f"{spark_jars()}/*"
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={out}",
           "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
           "-d", str(staging), "-cp", jars] + [str(p) for p in files]
    print(f"[build] compiling {len(files)} Scala files", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=timeout)
    if r.returncode != 0:
        raise SystemExit(f"[build] scalac failed with exit code {r.returncode}")
    if RESOURCES.is_dir():
        shutil.copytree(RESOURCES, staging, dirs_exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    staging.rename(classes)
    stamp_file.write_text(want)
    return classes


if __name__ == "__main__":
    print(build())
