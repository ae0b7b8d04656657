#!/usr/bin/env python3
"""Repeat one workload with different seeds and report how steady each metric is.

    python3 perfbench/steady.py --workload stream_ingest --runs 10 [--first-seed 1] [--traced]

For each end-to-end metric it prints the median, the quartiles (Python's
statistics.quantiles(values, n=4)), the spread (Q3 - Q1) / median and the
metric's bound from BENCHMARK.json. With --traced it adds one traced run and
prints the tracing overhead: the traced run's headline metrics against the
untraced medians. All values go to .bench_build/steady/<workload>.json.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def run(workload, seed, seconds, trace):
    r = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.exit(f"run seed {seed} failed with exit code {r.returncode}")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--traced", action="store_true")
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = spec["run_seconds"]

    values = {m["name"]: [] for m in spec["end_to_end"]}
    for i in range(a.runs):
        res = run(a.workload, a.first_seed + i, seconds, 0)
        for k in values:
            values[k].append(res["metrics"][k]["value"])
        print(f"seed {a.first_seed + i}: " + " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()), flush=True)

    report = {"workload": a.workload, "seconds": seconds, "runs": a.runs, "values": values, "metrics": {}}
    print(f"\n{a.workload}, {a.runs} runs of {seconds} s")
    print(f"{'metric':20s} {'median':>12s} {'Q1':>12s} {'Q3':>12s} {'spread':>8s} {'bound':>6s}")
    for m in spec["end_to_end"]:
        v = values[m["name"]]
        q1, med, q3 = statistics.quantiles(v, n=4)
        spread = (q3 - q1) / med
        verdict = "ok" if spread <= m["bound"] / 3 else ("within bound" if spread <= m["bound"] else "TOO WIDE")
        report["metrics"][m["name"]] = {"median": med, "q1": q1, "q3": q3, "spread": spread, "bound": m["bound"]}
        print(f"{m['name']:20s} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.3f} {m['bound']:6.2f}  {verdict}")

    if a.traced:
        t = run(a.workload, a.first_seed, seconds, 1)["metrics"]
        print("\ntracing overhead (traced run against the untraced median)")
        report["overhead"] = {}
        for k in values:
            if f"trace.{k}" in t:
                med = report["metrics"][k]["median"]
                report["overhead"][k] = t[f"trace.{k}"]["value"] / med - 1
                print(f"{k:20s} {t[f'trace.{k}']['value']:12.4f} vs {med:12.4f}  {report['overhead'][k]:+.1%}")

    out = ROOT / ".bench_build" / "steady"
    out.mkdir(parents=True, exist_ok=True)
    (out / f"{a.workload}.json").write_text(json.dumps(report, indent=1) + "\n")


if __name__ == "__main__":
    main()
