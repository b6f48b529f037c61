"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark driver (perfbench/scala) with the Scala compiler that ships in
Spark's jar directory, into .bench_build/perfbench under the repository
root. A build is reused while no source file changes.

    python3 perfbench/build.py     # build (or confirm the build is current)
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = ROOT / "perfbench" / "scala"
OUT = ROOT / ".bench_build" / "perfbench"


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = str(Path(submit).resolve().parent.parent) if submit else None
    jars = Path(home) / "jars" if home else None
    if not jars or not any(jars.glob("spark-sql_*.jar")):
        raise BuildError("Spark jars not found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = Path(home) / "bin" / "java" if home else shutil.which("java")
    if not exe or not Path(exe).exists():
        raise BuildError("java not found: set JAVA_HOME or put java on PATH")
    return str(exe)


def sources(root):
    return sorted(p for p in root.rglob("*.scala") if p.is_file())


def _stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    h.update(str(sorted(p.name for p in jars.glob("*.jar"))).encode())
    return h.hexdigest()


def _scalac(jars, classpath, files, out):
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    args = OUT / "scalac-args.txt"
    args.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-encoding", "UTF-8", "-nowarn", "-d", str(out)]
    if classpath:
        cmd += ["-cp", classpath]
    done = subprocess.run(cmd + [f"@{args}"], stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True)
    if done.returncode != 0:
        raise BuildError(f"scalac failed:\n{done.stdout[-4000:]}")


def ensure_built():
    """Returns (engine classes, benchmark classes, Spark jar directory)."""
    engine = sources(ENGINE_SRC) if ENGINE_SRC.is_dir() else []
    bench = sources(BENCH_SRC) if BENCH_SRC.is_dir() else []
    if not engine or not bench:
        raise BuildError(f"no Scala sources under {ENGINE_SRC} and {BENCH_SRC}")
    jars = spark_jars()
    OUT.mkdir(parents=True, exist_ok=True)
    engine_out, bench_out = OUT / "engine-classes", OUT / "bench-classes"
    engine_stamp, bench_stamp = OUT / "engine.stamp", OUT / "bench.stamp"
    want = _stamp(engine, jars)
    if not engine_stamp.exists() or engine_stamp.read_text() != want:
        bench_stamp.unlink(missing_ok=True)
        _scalac(jars, None, engine, engine_out)
        engine_stamp.write_text(want)
    want = _stamp(engine + bench, jars)
    if not bench_stamp.exists() or bench_stamp.read_text() != want:
        _scalac(jars, str(engine_out), bench, bench_out)
        bench_stamp.write_text(want)
    return engine_out, bench_out, jars


if __name__ == "__main__":
    try:
        print(*ensure_built(), sep="\n")
    except BuildError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(1)
