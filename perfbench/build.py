#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the program's sources
(`src/main/scala`) and then the benchmark's own (`perfbench/src`) with the
Scala compiler that ships with Spark, into `.bench_build/`.

Each stage is skipped when a hash of its sources matches the last build.
Needs SPARK_HOME, or `spark-submit` on the PATH: the install's `jars/`
holds Spark, the Scala library and the Scala compiler.

    python3 perfbench/build.py        # prints the runtime classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
PROGRAM_RES = ROOT / "src" / "main" / "resources"
BENCH_SRC = ROOT / "perfbench" / "src"


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("SPARK_HOME must point at a Spark install with a jars/ directory")
    jars = sorted(str(p) for p in (Path(home) / "jars").glob("*.jar"))
    if not any("scala-compiler" in j for j in jars):
        raise BuildError("no scala-compiler jar under $SPARK_HOME/jars")
    return jars


def sources(d):
    if not d.is_dir():
        raise BuildError(f"missing source directory {d.relative_to(ROOT)}")
    files = sorted(d.rglob("*.scala"))
    if not files:
        raise BuildError(f"no Scala sources under {d.relative_to(ROOT)}")
    return files


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def compile_stage(name, files, classpath, jars):
    out = OUT / name
    stamp = OUT / f"{name}.stamp"
    want = digest(files) + ":" + hashlib.sha256(":".join(classpath).encode()).hexdigest()
    if stamp.exists() and stamp.read_text() == want and out.is_dir():
        return out
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    args = OUT / f"{name}.args"
    args.write_text("\n".join(
        ["-nowarn", "-d", str(out), "-classpath", ":".join(classpath)] + [str(f) for f in files]))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(jars), "scala.tools.nsc.Main", f"@{args}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise BuildError(f"compiling {name} failed")
    stamp.write_text(want)
    return out


def build():
    """Compile both stages if needed; return the runtime classpath."""
    jars = spark_jars()
    program = compile_stage("program", sources(PROGRAM_SRC), jars, jars)
    bench = compile_stage("bench", sources(BENCH_SRC), [str(program)] + jars, jars)
    return [str(bench), str(program), str(PROGRAM_RES)] + jars


if __name__ == "__main__":
    try:
        print(":".join(build()))
    except BuildError as e:
        sys.exit(f"build: {e}")
