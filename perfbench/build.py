"""Build file of the benchmark: compiles the program's sources and the
benchmark's own sources with the Scala compiler that ships in the Spark
distribution ($SPARK_HOME/jars), into .bench_build/perfbench/ at the root of
the checkout. A build is reused while no source file has changed.

    python3 perfbench/build.py        # build, print the class path
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build" / "perfbench"


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("SPARK_HOME must point at a Spark distribution with jars/")
    jars = Path(home) / "jars"
    if not list(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no scala-compiler jar in {jars}")
    return jars


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise BuildError(f"program sources not found at {main}")
    files = sorted(main.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    return files


def fingerprint(files, jars):
    h = hashlib.sha256()
    h.update(str(sorted(p.name for p in jars.glob("*.jar"))).encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath():
    """Build if needed; return the run class path as a list of entries."""
    jars = spark_jars()
    files = sources()
    classes = OUT / "classes"
    stamp = OUT / "stamp"
    fp = fingerprint(files, jars)
    if not (stamp.exists() and stamp.read_text() == fp and classes.is_dir()):
        tmp = OUT / "classes.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        argfile = OUT / "sources.txt"
        argfile.write_text("\n".join(str(f) for f in files) + "\n")
        print(f"perfbench: compiling {len(files)} files", file=sys.stderr, flush=True)
        proc = subprocess.run(
            ["java", "-Xmx2g", "-Xss8m", "-cp", str(jars / "*"),
             "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(tmp),
             "@" + str(argfile)],
            stdout=sys.stderr, stderr=sys.stderr)
        if proc.returncode != 0:
            raise BuildError(f"scalac exited with {proc.returncode}")
        shutil.rmtree(classes, ignore_errors=True)
        tmp.rename(classes)
        stamp.write_text(fp)
    return [str(classes), str(ROOT / "src" / "main" / "resources"), str(jars / "*")]


if __name__ == "__main__":
    try:
        print(os.pathsep.join(classpath()))
    except BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)
