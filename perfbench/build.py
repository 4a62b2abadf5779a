"""Builds the program and the benchmark from source with the Scala compiler
that ships in Spark's jars directory (no sbt, no network).

    python3 perfbench/build.py          # prints the classes directory

Sources: the program (`src/main/scala`) and the benchmark (`perfbench/src`).
Classes go to `.bench_build/classes-<hash of the sources>`, so a checkout
compiles once and an edited source tree compiles again.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

PROGRAM_SRC = Path("src/main/scala")
BENCH_SRC = Path("perfbench/src")
BUILD_DIR = Path(".bench_build")


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit is None:
            raise RuntimeError("Spark not found: set SPARK_HOME")
        home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise RuntimeError(f"no Scala compiler among {jars}")
    return jars


def sources(root, dirs):
    files = []
    for d in dirs:
        base = root / d
        if not base.is_dir():
            raise RuntimeError(f"missing source directory {base}")
        files += sorted(base.rglob("*.scala"))
    if not files:
        raise RuntimeError("no Scala sources found")
    return files


def compile_to(root, dirs, classpath, name):
    """Compiles the Scala files under `dirs` (relative to `root`) against
    `classpath` into a content-addressed directory; returns it."""
    files = sources(root, dirs)
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(root)).encode() + b"\0" + f.read_bytes() + b"\0")
    h.update(classpath.encode())
    out = root / BUILD_DIR / f"{name}-{h.hexdigest()[:16]}"
    if (out / "BUILD_OK").exists():
        return out
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", str(spark_jars() / "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
           "-classpath", classpath] + [str(f) for f in files]
    print(f"perfbench: compiling {len(files)} sources into {out}", file=sys.stderr, flush=True)
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError("compilation failed:\n" + res.stdout[-4000:])
    (tmp / "BUILD_OK").touch()
    for stale in out.parent.glob(f"{name}-*"):
        if stale != tmp:
            shutil.rmtree(stale, ignore_errors=True)
    tmp.rename(out)
    return out


def build(root):
    """Classes of the program and the benchmark; returns the runtime classpath."""
    jars = str(spark_jars() / "*")
    classes = compile_to(root, [PROGRAM_SRC, BENCH_SRC], jars, "classes")
    return f"{classes}{os.pathsep}{jars}"


if __name__ == "__main__":
    try:
        print(build(Path.cwd()))
    except RuntimeError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(2)
