"""Steadiness report: runs each workload once per seed and reports, for
every metric, the median, the quartiles and their spread as a share of
the median, next to the bound BENCHMARK.json gives it. Each run's host
load average at its start and end, the CPU time other tenants of the
machine stole during it, and the time of run.py's calibration loop at its
start and end are listed too, so co-tenant noise shows.

    python3 perfbench/steadiness.py [--workloads a,b] [--runs 10] [--seed0 1]
                                    [--seconds 5] [--out report.json]

Run from the repository root. Quartiles are Python's
statistics.quantiles(values, n=4).
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run_once(workload, seed, seconds):
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = proc.stdout.splitlines()
    if proc.returncode != 0 or not lines:
        return {"seed": seed, "error": proc.stderr[-2000:]}
    host = next((json.loads(l[len("host "):]) for l in lines if l.startswith("host ")), {})
    return {"seed": seed, "host": host, **json.loads(lines[-1])}


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--out")
    args = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}

    report = {}
    for w in args.workloads.split(","):
        runs = []
        for i in range(args.runs):
            r = run_once(w, args.seed0 + i, args.seconds)
            runs.append(r)
            if "error" in r:
                print(f"{w} seed {r['seed']}: FAILED\n{r['error']}", flush=True)
                continue
            h = r["host"]
            print(f"{w} seed {r['seed']}: correct={r['correct']} attempted={r['attempted']} "
                  f"failed={r['failed']} load {h['loadavg_start'][0]:.2f} -> {h['loadavg_end'][0]:.2f} "
                  f"steal {h['steal_cpus']:.2f} calib {h['calib_s'][0]:.3f} -> {h['calib_s'][1]:.3f} "
                  + " ".join(f"{k}={v['value']:.6g}" for k, v in r["metrics"].items()), flush=True)
        ok = [r for r in runs if "error" not in r]
        summary = {}
        for name in (ok[0]["metrics"] if ok else {}):
            vals = [r["metrics"][name]["value"] for r in ok]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("nan")
            summary[name] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                             "bound": bounds.get(name)}
        report[w] = {"runs": runs, "summary": summary}
        print(f"\n{w}: {len(ok)} of {len(runs)} runs ok, "
              f"{sum(1 for r in ok if r['correct'] and r['failed'] == 0)} correct")
        print(f"  {'metric':<28} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
        for name, s in summary.items():
            b = s["bound"]
            flag = "" if b is None else (" ok" if s["spread"] <= b / 3 else " WIDE" if s["spread"] > b else " >1/3")
            print(f"  {name:<28} {s['median']:>12.6g} {s['q1']:>12.6g} {s['q3']:>12.6g} "
                  f"{s['spread']:>8.4f} {'' if b is None else b:>6}{flag}")
        print(flush=True)
    if args.out:
        Path(args.out).write_text(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
