#!/usr/bin/env python3
"""Repeat benchmark runs, and compare a parent and a change checkout.

    # ten runs per workload on ten seeds: median, quartiles and spread
    python3 perfbench/ab.py repeat --runs 10

    # traced against untraced runs: the tracing overhead on rows_per_s
    python3 perfbench/ab.py overhead --runs 3

    # ten parent/change pairs per workload, alternating which runs first
    python3 perfbench/ab.py ab --parent ../graft-parent --change . --pairs 10

Each run is `python3 perfbench/run.py` in the checkout being measured,
with BENCHMARK.json's run_seconds. A spread is (q3 - q1) / median, the
quartiles being statistics.quantiles(values, n=4). The ab verdict
follows the 9-of-10 rule: a gain needs the change to win at least nine
tenths of the pairs (ties count for neither side) and the medians to
differ by more than the parent's quartile distance; a regression is a
change median worse than the parent's by more than the metric's bound,
and a metric whose parent spread exceeds its bound is unresolved unless
every change run beats every parent run.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def run(checkout, workload, seed, trace):
    cmd = SPEC["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(SPEC["run_seconds"]), "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.exit(f"run failed ({r.returncode}): {' '.join(cmd)} in {checkout}")
    res = json.loads(r.stdout.strip().splitlines()[-1])
    vals = {k: v["value"] for k, v in res["metrics"].items()}
    vals["fail_ratio"] = res["failed"] / res["attempted"]
    if not res["correct"]:
        print(f"  ! {workload} seed {seed}: correct=false", file=sys.stderr)
    return vals


def summary(values):
    """(median, q1, q3, spread) with spread = (q3 - q1) / median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def cmd_repeat(a):
    for w in a.workloads:
        runs = []
        for i in range(a.runs):
            runs.append(run(a.checkout, w, a.seed + i, 0))
            print(f"  {w} seed {a.seed + i}: " + ", ".join(f"{k}={v:.4g}" for k, v in runs[-1].items()),
                  file=sys.stderr)
        print(f"{w} ({a.runs} runs, seeds {a.seed}..{a.seed + a.runs - 1})")
        for m in SPEC["end_to_end"]:
            med, q1, q3, spread = summary([r[m["name"]] for r in runs])
            flag = "ok" if spread <= m["bound"] / 3 else ("within bound" if spread <= m["bound"] else "TOO WIDE")
            print(f"  {m['name']:18s} median {med:.6g} {m['unit']}  q1 {q1:.6g}  q3 {q3:.6g}  "
                  f"spread {spread:.3f} (bound {m['bound']}) {flag}")
        print(f"  {'fail_ratio':18s} max {max(r['fail_ratio'] for r in runs)}")


def cmd_overhead(a):
    for w in a.workloads:
        plain = [run(a.checkout, w, a.seed + i, 0)["rows_per_s"] for i in range(a.runs)]
        traced = [run(a.checkout, w, a.seed + i, 1)["trace.rows_per_s"] for i in range(a.runs)]
        p, t = statistics.median(plain), statistics.median(traced)
        print(f"{w}: rows_per_s untraced {p:.6g}, traced {t:.6g}, tracing overhead {(p - t) / p:+.1%}")


def cmd_ab(a):
    for w in a.workloads:
        parent, change = [], []
        for i in range(a.pairs):
            seed = a.seed + i
            sides = [("parent", a.parent, parent), ("change", a.change, change)]
            for _, checkout, out in (sides if i % 2 == 0 else sides[::-1]):
                out.append(run(checkout, w, seed, 0))
        print(f"{w} ({a.pairs} pairs)")
        for m in SPEC["end_to_end"]:
            n = m["name"]
            pv, cv = [r[n] for r in parent], [r[n] for r in change]
            lower = m["better"] == "lower"
            better = (lambda c, p: c < p) if lower else (lambda c, p: c > p)
            wins = sum(better(c, p) for c, p in zip(cv, pv))
            pm, pq1, pq3, pspread = summary(pv)
            cm, cq1, cq3, _ = summary(cv)
            worse = (cm - pm) / pm if lower else (pm - cm) / pm
            if wins >= 0.9 * a.pairs and better(cm, pm) and abs(cm - pm) > pq3 - pq1:
                verdict = "GAIN"
            elif pspread > m["bound"]:
                every = all(better(c, p) for c in cv for p in pv)
                verdict = "better in every run" if every else "UNRESOLVED (parent spread above bound)"
            elif worse > m["bound"]:
                verdict = "REGRESSION"
            else:
                verdict = "no regression"
            print(f"  {n:18s} parent {pm:.6g} [{pq1:.6g}, {pq3:.6g}]  change {cm:.6g} [{cq1:.6g}, {cq3:.6g}]  "
                  f"change wins {wins}/{a.pairs}  worse by {worse:+.1%}  {verdict}")
        fails = (sum(r["fail_ratio"] for r in parent), sum(r["fail_ratio"] for r in change))
        if fails[1] > fails[0]:
            print(f"  more failed operations on the change: {fails}")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="mode", required=True)
    names = [w["name"] for w in SPEC["workloads"]]
    for mode in ("repeat", "overhead", "ab"):
        p = sub.add_parser(mode)
        p.add_argument("--workloads", nargs="+", default=names, choices=names)
        p.add_argument("--seed", type=int, default=1, help="first seed; later runs use the next ones")
        if mode == "ab":
            p.add_argument("--parent", required=True, help="root of the parent checkout")
            p.add_argument("--change", required=True, help="root of the change checkout")
            p.add_argument("--pairs", type=int, default=10)
        else:
            p.add_argument("--checkout", default=str(HERE.parent))
            p.add_argument("--runs", type=int, default=10 if mode == "repeat" else 3)
    a = ap.parse_args()
    {"repeat": cmd_repeat, "overhead": cmd_overhead, "ab": cmd_ab}[a.mode](a)


if __name__ == "__main__":
    main()
