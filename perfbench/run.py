"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program first if needed (see
build.py), then runs the workload in one JVM with Spark at local[nproc].
The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`; the line before it
(`host {...}`) gives the load average at the start and the end of the run,
the CPU time stolen by other tenants of the machine during it, in CPUs,
and the time a fixed single-thread loop takes at the start and the end
(`calib_s`): co-tenants that share a core slow it without showing as
stolen time. Exits non-zero without a result when the build or the run
fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

# the run must end within 180 s; leave room for JVM start and tear-down
TIMEOUT_S = 170

JVM_OPTS = [
    "-XX:-UsePerfData",
    "--add-modules=jdk.incubator.vector",
    "-Xss8m",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def cpu_times():
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def calib_s() -> float:
    """Seconds a fixed single-thread integer loop takes, fastest of three."""
    def once():
        t0 = time.perf_counter()
        x = 0
        for i in range(1_000_000):
            x = (x * 31 + i) & 0xFFFFFFFF
        return time.perf_counter() - t0
    return min(once() for _ in range(3))


def cores() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    build.build()
    work = build.BUILD / "work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    trace_out = build.BUILD / "traces" / f"{args.workload}-seed{args.seed}.jsonl"
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dspark.local.dir={work / 'tmp'}"] + JVM_OPTS + [
        "-cp", build.classpath(), "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", args.trace, "--work", str(work), "--cores", str(cores()),
        "--trace-out", str(trace_out)]
    load_start, calib_start = os.getloadavg(), calib_s()
    steal_start, total_start = cpu_times()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=build.ROOT)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        print(f"run: no result within {TIMEOUT_S} s", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    if proc.returncode != 0 or not lines:
        print(f"run: the JVM exited with code {proc.returncode}", file=sys.stderr)
        return 1
    result = json.loads(lines[-1])
    for line in lines[:-1]:
        print(line)
    steal_end, total_end = cpu_times()
    n = os.cpu_count()
    print("host " + json.dumps({"loadavg_start": load_start, "loadavg_end": os.getloadavg(),
                                "steal_cpus": n * (steal_end - steal_start) / max(1, total_end - total_start),
                                "calib_s": [calib_start, calib_s()]}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
