#!/usr/bin/env python3
"""Steadiness check: runs two sets of runs of the same code and prints, per
workload and end-to-end metric, each set's median and spread (the distance
between the first and third quartile as a share of the median), and whether
the sets agree within BENCHMARK.json's bounds.

    python3 perfbench/steadiness.py [--runs 10] [--sets 2] [--workloads a,b]

Set k uses seeds k*runs+1 .. (k+1)*runs. Each run's result line is kept in
.bench_build/steadiness/<workload>.jsonl.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
LOGS = ROOT / ".bench_build" / "steadiness"


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


def run_one(workload, seed, seconds):
    out = subprocess.run([sys.executable, str(ROOT / "perfbench" / "run.py"),
                          "--workload", workload, "--seed", str(seed),
                          "--seconds", str(seconds), "--trace", "0"],
                         cwd=ROOT, stdout=subprocess.PIPE, text=True)
    line = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else "{}"
    rec = json.loads(line) if line.startswith("{") else {}
    rec.update({"seed": seed, "exit": out.returncode})
    return rec


def report(spec, workload, sets):
    ok = True
    print(f"\n== {workload}")
    print(f"{'metric':14} {'bound':>6} " + " ".join(
        f"{'median' + str(k + 1):>12} {'spread' + str(k + 1):>8}" for k in range(len(sets))) +
        "  verdict")
    for m in spec["end_to_end"]:
        name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
        cols, meds, verdict = [], [], []
        for recs in sets:
            vals = [r["metrics"][name]["value"] for r in recs if "metrics" in r]
            if len(vals) < 2:
                cols.append(f"{'n/a':>12} {'n/a':>8}")
                continue
            med, sp = statistics.median(vals), spread(vals)
            meds.append(med)
            cols.append(f"{med:12.4f} {sp:8.3f}")
            if sp > bound:
                verdict.append(f"spread {sp:.3f} > bound")
                ok = False
            elif sp > bound / 3:
                verdict.append(f"spread {sp:.3f} > bound/3")
        if len(meds) == 2 and meds[0]:
            worse = (meds[1] - meds[0]) / meds[0] * (1 if lower else -1)
            if worse > bound:
                verdict.append(f"set 2 worse by {worse:.3f}")
                ok = False
        print(f"{name:14} {bound:6.2f} " + " ".join(cols) + "  " + ("; ".join(verdict) or "ok"))
    bad = [r["seed"] for recs in sets for r in recs if r.get("exit") != 0 or not r.get("correct")]
    if bad:
        print(f"runs with a non-zero exit or correct=false: seeds {bad}")
        ok = False
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2, choices=[1, 2])
    ap.add_argument("--workloads", default="")
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    LOGS.mkdir(parents=True, exist_ok=True)
    ok = True
    for w in names:
        recs = []
        with open(LOGS / f"{w}.jsonl", "w") as f:
            for seed in range(1, a.runs * a.sets + 1):
                rec = run_one(w, seed, spec["run_seconds"])
                f.write(json.dumps(rec) + "\n")
                f.flush()
                recs.append(rec)
        sets = [recs[k * a.runs:(k + 1) * a.runs] for k in range(a.sets)]
        ok &= report(spec, w, [s for s in sets if s])
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
