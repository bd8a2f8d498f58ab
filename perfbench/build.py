"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark's own sources (perfbench/src) with the Scala compiler that ships
in Spark's jars, into .bench_build/classes.

    python3 perfbench/build.py        # from the repository root

A build is skipped when a stamp of the sources, the compiler and the JDK
matches the previous one. Exits non-zero when the program sources are
missing.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
CLASSES = BUILD / "classes"


def spark_jars() -> Path:
    """Spark's jars: under $SPARK_HOME, else beside a spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        str(Path(d, "spark-submit").resolve().parent.parent)
        for d in os.environ.get("PATH", "").split(os.pathsep) if Path(d, "spark-submit").is_file()]
    for home in filter(None, homes):
        jars = Path(home) / "jars"
        if any(jars.glob("scala-compiler-*.jar")):
            return jars
    sys.exit("build: no Spark jars with a Scala compiler found; set SPARK_HOME")


def classpath() -> str:
    return f"{CLASSES}{os.pathsep}{spark_jars()}/*"


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        sys.exit(f"build: program sources not found under {main}")
    return sorted(p for d in (main, ROOT / "perfbench" / "src") for p in d.rglob("*.scala"))


def stamp(files) -> str:
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update(" ".join(sorted(j.name for j in spark_jars().glob("*.jar"))).encode())
    h.update(subprocess.run(["java", "-version"], capture_output=True, text=True).stderr.encode())
    return h.hexdigest()


def build() -> None:
    files = sources()
    want = stamp(files)
    stamp_file = CLASSES / ".stamp"
    if stamp_file.is_file() and stamp_file.read_text() == want:
        return
    out = BUILD / "classes.tmp"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    jars = f"{spark_jars()}/*"
    print(f"build: compiling {len(files)} sources", file=sys.stderr)
    code = subprocess.run(["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", jars,
                           "scala.tools.nsc.Main", "-nowarn", "-d", str(out), "-classpath", jars]
                          + [str(f) for f in files]).returncode
    if code != 0:
        sys.exit("build: compilation failed")
    (out / ".stamp").write_text(want)
    shutil.rmtree(CLASSES, ignore_errors=True)
    out.rename(CLASSES)


if __name__ == "__main__":
    build()
