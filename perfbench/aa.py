#!/usr/bin/env python3
"""A/A stability check: two independent sets of runs of the same code.

    python3 perfbench/aa.py [--runs 10] [--workloads rides,curation,lakehouse]

Run from the repository root. Each set runs every workload --runs times,
each run with its own seed (set A: 1..N, set B: 101..100+N). For every
end-to-end metric of every workload it prints each set's median and
run-to-run spread (interquartile range over median, as
statistics.quantiles(values, n=4) gives the quartiles), and checks them
against the metric's bound in BENCHMARK.json:

  - the spread of each set stays within the bound;
  - set B's median differs from set A's by no more than the bound, in
    either direction.

Exits 1 if any check fails or any run reports a failed operation.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True)
    if p.returncode != 0:
        return None
    return json.loads(p.stdout.strip().splitlines()[-1])


def spread(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / q2


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = (a.workloads.split(",") if a.workloads
                 else [w["name"] for w in spec["workloads"]])
    ok = True
    for w in workloads:
        sets = []
        for base in (0, 100):
            vals = {m["name"]: [] for m in spec["end_to_end"]}
            for seed in range(base + 1, base + a.runs + 1):
                r = run(w, seed, spec["run_seconds"])
                if r is None or not r["correct"]:
                    print(f"{w} seed {seed}: run failed or output wrong: {r}")
                    ok = False
                    continue
                for k in vals:
                    vals[k].append(r["metrics"][k]["value"])
                print(f"{w} seed {seed}: " + " ".join(
                    f"{k}={v[-1]:.4f}" for k, v in vals.items()), flush=True)
            sets.append(vals)
        for m in spec["end_to_end"]:
            k, bound = m["name"], m["bound"]
            a_vals, b_vals = sets[0][k], sets[1][k]
            if len(a_vals) < 2 or len(b_vals) < 2:
                print(f"{w:10s} {k:18s} too few runs")
                ok = False
                continue
            ma, mb = statistics.median(a_vals), statistics.median(b_vals)
            sa, sb = spread(a_vals), spread(b_vals)
            drift = mb / ma - 1.0
            good = abs(drift) <= bound and max(sa, sb) <= bound
            ok &= good
            print(f"{w:10s} {k:18s} median A {ma:10.4f} B {mb:10.4f} "
                  f"spread A {sa:6.3f} B {sb:6.3f} B-vs-A {drift:+6.3f} "
                  f"bound {bound:.2f} {'ok' if good else 'FAIL'}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
