#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program and the benchmark.

The program's sources (src/main/scala, src/main/resources) and the
benchmark's own sources (perfbench/scala) are compiled together with the
Scala compiler that ships with Spark, into <build>/classes. <build> is
$CARGO_TARGET_DIR when set, else .bench_build, relative to the checkout
root. A stamp over every input file skips the compile when nothing changed.

    python3 perfbench/build.py        # prints the classes directory
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
MAIN_SRC = ROOT / "src" / "main" / "scala"
MAIN_RES = ROOT / "src" / "main" / "resources"
BENCH_SRC = ROOT / "perfbench" / "scala"


def spark_jars() -> Path:
    """$SPARK_HOME/jars, else the jars of the first Spark distribution whose
    spark-submit is on PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        str(Path(d, "spark-submit").resolve().parent.parent)
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if Path(d, "spark-submit").is_file()]
    for h in homes:
        if h and (Path(h) / "jars").is_dir():
            return Path(h) / "jars"
    raise SystemExit("build: no Spark jars found (set SPARK_HOME)")


def build_dir() -> Path:
    d = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    return d if d.is_absolute() else ROOT / d


def sources():
    if not MAIN_SRC.is_dir():
        raise SystemExit(f"build: no program sources at {MAIN_SRC.relative_to(ROOT)}")
    if not BENCH_SRC.is_dir():
        raise SystemExit("build: no benchmark sources at perfbench/scala")
    scala = sorted(MAIN_SRC.rglob("*.scala")) + sorted(BENCH_SRC.glob("*.scala"))
    res = sorted(p for p in MAIN_RES.rglob("*") if p.is_file()) if MAIN_RES.is_dir() else []
    return scala, res


def stamp(files, jars: Path) -> str:
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def build() -> Path:
    jars = spark_jars()
    scala, res = sources()
    out = build_dir()
    out.mkdir(parents=True, exist_ok=True)
    # one build at a time per build directory
    with open(out / ".lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return compile_if_changed(scala, res, jars, out)


def compile_if_changed(scala, res, jars: Path, out: Path) -> Path:
    classes = out / "classes"
    want = stamp(scala + res, jars)
    stamp_file = classes / ".stamp"
    if stamp_file.is_file() and stamp_file.read_text() == want:
        return classes
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp",
           "-d", str(tmp)] + [str(p) for p in scala]
    # run from the empty output directory: scalac puts "." on its class path
    r = subprocess.run(cmd, cwd=tmp, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    for p in res:
        dst = tmp / p.relative_to(MAIN_RES)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dst)
    (tmp / ".stamp").write_text(want)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    return classes


if __name__ == "__main__":
    print(build())
