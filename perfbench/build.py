"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's JVM side (perfbench/src) with the Scala compiler that ships
in Spark's jars, into .bench_build/classes under the checkout root.

A stamp over every source's bytes skips a build that is up to date.
Run directly (`python3 perfbench/build.py`) or through run.py."""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
PROGRAM_RES = ROOT / "src" / "main" / "resources"
BENCH_SRC = BENCH / "src"


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the first Spark on PATH that ships
    the Scala compiler."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    for d in os.environ.get("PATH", "").split(os.pathsep):
        jars = (Path(d) / "spark-submit").resolve().parent.parent / "jars"
        if (Path(d) / "spark-submit").is_file() and any(jars.glob("scala-compiler-*.jar")):
            return jars
    raise SystemExit("perfbench: set SPARK_HOME or put Spark's bin directory on PATH")


def classpath():
    return f"{BUILD / 'classes'}:{spark_jars()}/*"


def sources():
    if not (PROGRAM_SRC / "graft").is_dir():
        raise SystemExit(f"perfbench: no program sources under {PROGRAM_SRC}")
    return sorted(p for d in (PROGRAM_SRC, BENCH_SRC) for p in d.rglob("*.scala"))


def build(log=sys.stderr):
    srcs = sources()
    h = hashlib.sha256(str(spark_jars()).encode())
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = BUILD / "classes.stamp"
    if stamp.exists() and stamp.read_text() == h.hexdigest() and (BUILD / "classes").is_dir():
        return
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{spark_jars()}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", f"{spark_jars()}/*", f"@{argfile}"]
    print("perfbench: compiling %d sources" % len(srcs), file=log, flush=True)
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if done.returncode != 0:
        print(done.stdout[-20000:], file=log)
        raise SystemExit(f"perfbench: compile failed ({done.returncode})")
    if PROGRAM_RES.is_dir():
        shutil.copytree(PROGRAM_RES, tmp, dirs_exist_ok=True)
    shutil.rmtree(BUILD / "classes", ignore_errors=True)
    tmp.rename(BUILD / "classes")
    stamp.write_text(h.hexdigest())


if __name__ == "__main__":
    build()
