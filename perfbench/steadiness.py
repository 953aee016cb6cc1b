#!/usr/bin/env python3
"""Steadiness check: two sets of benchmark runs of one commit.

    python3 perfbench/steadiness.py [--runs 10]

Each of the two sets runs every workload of BENCHMARK.json --runs times,
each run with its own seed (set s, run i uses seed 1000*s + i),
interleaving workloads so drift on the machine lands on all of them alike.
For each workload and end-to-end metric it prints each set's median and
quartiles (Python's statistics.quantiles, n=4), the spread
(Q3-Q1)/median, and whether the sets agree within BENCHMARK.json's
bounds: every spread within its metric's bound, the two medians within
the bound of each other in either direction, and the same share of failed
operations in both sets. setup_s's spread is printed but not held to its
bound: set-up runs once per run, so its spread is the machine's, and a
comparison judges set-up by its median only.

    python3 perfbench/steadiness.py --trace-overhead [--runs 3]

instead runs each workload untraced and traced on the same seeds and
prints the traced/untraced ratio of the end-to-end medians.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

SETS = 2
BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def run(spec, workload, seed, trace):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} exited {p.returncode}")
    line = p.stdout.strip().splitlines()[-1]
    res = json.loads(line)
    traced = None
    for l in p.stderr.splitlines():
        if "traced end-to-end:" in l:
            traced = json.loads(l.split("traced end-to-end:", 1)[1])
    print(f"  {workload} seed {seed} trace {trace}: {line if not trace else traced}",
          file=sys.stderr, flush=True)
    return res, traced


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def steadiness(spec, workloads, runs):
    results = {w: [[] for _ in range(SETS)] for w in workloads}
    for s in range(SETS):
        for i in range(runs):
            for w in workloads:
                results[w][s].append(run(spec, w, 1000 * (s + 1) + i, 0)[0])
    ok = True
    print(f"runs per set: {runs}, sets: {SETS}, run_seconds: {spec['run_seconds']}")
    print(f"{'workload':<14}{'metric':<22}{'set':>4}{'Q1':>12}{'median':>12}{'Q3':>12}"
          f"{'spread':>8}{'bound':>7}  verdict")
    for w in workloads:
        fail_shares = [sum(r["failed"] for r in rs) / sum(r["attempted"] for r in rs)
                       for rs in results[w]]
        for m in spec["end_to_end"]:
            name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
            meds = []
            for s, rs in enumerate(results[w]):
                q1, med, q3 = quartiles([r["metrics"][name]["value"] for r in rs])
                spread = (q3 - q1) / med
                meds.append(med)
                verdict = []
                if spread > bound:
                    verdict.append("spread not gated" if name == "setup_s" else "SPREAD>BOUND")
                if s > 0:
                    worse = (med / meds[0] - 1) if lower else (1 - med / meds[0])
                    verdict.append(f"vs set 1: {worse:+.1%} worse")
                    if abs(med / meds[0] - 1) > bound:
                        verdict.append("DISAGREE")
                ok &= not any(v in ("SPREAD>BOUND", "DISAGREE") for v in verdict)
                print(f"{w:<14}{name:<22}{s + 1:>4}{q1:>12.4g}{med:>12.4g}{q3:>12.4g}"
                      f"{spread:>8.1%}{bound:>7}  {'; '.join(verdict) or 'ok'}")
        same = len(set(fail_shares)) == 1
        ok &= same
        print(f"{w:<14}{'failed share':<22}{'':>4}  {fail_shares} {'ok' if same else 'DIFFER'}")
    print("AGREE" if ok else "DISAGREE")
    return ok


def trace_overhead(spec, workloads, runs):
    print(f"traced / untraced end-to-end medians over seeds 1..{runs}")
    for w in workloads:
        plain = [run(spec, w, i, 0)[0]["metrics"] for i in range(1, runs + 1)]
        traced = [run(spec, w, i, 1)[1] for i in range(1, runs + 1)]
        for m in spec["end_to_end"]:
            n = m["name"]
            a = statistics.median(r[n]["value"] for r in plain)
            b = statistics.median(t[n] for t in traced)
            print(f"{w:<14}{n:<22} untraced {a:>10.4g}  traced {b:>10.4g}  ratio {b / a:.3f}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--trace-overhead", action="store_true")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = [w["name"] for w in spec["workloads"]]
    if a.trace_overhead:
        trace_overhead(spec, workloads, a.runs)
    else:
        sys.exit(0 if steadiness(spec, workloads, a.runs) else 1)


if __name__ == "__main__":
    main()
