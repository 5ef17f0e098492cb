#!/usr/bin/env python3
"""Steadiness check: runs the benchmark in sets of runs on the same code and
reports, per workload and end-to-end metric, each set's median and
quartiles. It fails when a set's spread (interquartile range over median)
exceeds the metric's bound in BENCHMARK.json, or when a later set's median
is worse than the first set's by more than the bound.

With --overhead N it also makes N pairs of runs, one traced and one
untraced with the same seed, back to back and alternating which goes
first, and reports the tracing overhead: the median of each end-to-end
metric over the traced runs minus its median over the untraced ones.

Usage (from the repository root):
  python3 graftbench/steady.py [--runs 10] [--sets 2] [--workload W ...]
      [--overhead N] [--json OUT]
Set k uses seeds k*1000+1 .. k*1000+runs.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(spec, workload, seed, trace=0):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if r.returncode != 0:
        sys.exit(f"{workload} seed {seed} exited with {r.returncode}:\n{r.stderr[-3000:]}")
    lines = r.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    if not res["correct"]:
        sys.exit(f"{workload} seed {seed} incorrect:\n{r.stdout}")
    if trace:  # a traced run prints its end-to-end figures on their own line
        return json.loads(next(ln for ln in lines if ln.startswith("end_to_end "))[11:])
    return {k: v["value"] for k, v in res["metrics"].items()}


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--overhead", type=int, default=0)
    ap.add_argument("--json")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    metrics = spec["end_to_end"]
    report, ok = {}, True
    for w in workloads:
        sets = []
        for k in range(1, a.sets + 1):
            runs = [one_run(spec, w, k * 1000 + i) for i in range(1, a.runs + 1)]
            sets.append({m["name"]: dict(summary([r[m["name"]] for r in runs]),
                                         values=[r[m["name"]] for r in runs]) for m in metrics})
            print(f"{w}: set {k} done", file=sys.stderr, flush=True)
        report[w] = sets
        print(f"\n{w}")
        print(f"  {'metric':<14} {'set':>3} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} "
              f"{'bound':>6}  verdict")
        for m in metrics:
            n, bound = m["name"], m["bound"]
            base = sets[0][n]["median"]
            for k, by_metric in enumerate(sets, 1):
                s = by_metric[n]
                verdict = []
                if s["spread"] > bound:
                    verdict.append("spread over bound")
                worse = (s["median"] - base) / base if m["better"] == "lower" else (base - s["median"]) / base
                if k > 1 and worse > bound:
                    verdict.append(f"median {worse:+.1%} vs set 1")
                ok &= not verdict
                print(f"  {n:<14} {k:>3} {s['median']:>12.4f} {s['q1']:>12.4f} {s['q3']:>12.4f} "
                      f"{s['spread']:>8.3f} {bound:>6.2f}  {'; '.join(verdict) or 'ok'}")
        if a.overhead:
            pairs = []
            for i in range(1, a.overhead + 1):
                order = (1, 0) if i % 2 else (0, 1)
                pair = {tr: one_run(spec, w, 1000 + i, trace=tr) for tr in order}
                pairs.append({"traced": pair[1], "untraced": pair[0]})
            report[w + ".overhead"] = pairs
            print(f"  tracing overhead over {a.overhead} seed pairs: traced median - untraced median")
            for m in metrics:
                n = m["name"]
                t = statistics.median([p["traced"][n] for p in pairs])
                u = statistics.median([p["untraced"][n] for p in pairs])
                print(f"  {n:<14} {t:>12.4f} - {u:>12.4f} = {t - u:>+10.4f} ({(t - u) / u:+.1%})")
    if a.json:
        with open(a.json, "w") as f:
            json.dump(report, f, indent=1)
    print("\nsteady" if ok else "\nNOT steady")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
