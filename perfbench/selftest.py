"""Tests the benchmark's graph input generator (perfbench.GenCheck).

    python3 perfbench/selftest.py      # from the repository root
"""
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
from run import JVM_OPTS  # noqa: E402

if __name__ == "__main__":
    build.build()
    tmp = build.BUILD / "work" / f"selftest-{os.getpid()}"
    tmp.mkdir(parents=True, exist_ok=True)
    try:
        code = subprocess.run(["java", "-Xmx1g", f"-Djava.io.tmpdir={tmp}"] + JVM_OPTS +
                              ["-cp", build.classpath(), "perfbench.GenCheck"]).returncode
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    sys.exit(code)
