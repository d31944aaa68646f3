#!/usr/bin/env python3
"""Collect sets of benchmark runs and compare them.

    compare.py run --out A.jsonl [--workloads w ...] [--seeds 1-10] [--seconds S] [--trace 0|1]
        Runs perfbench/run.py once per workload and seed (in that order),
        appending each result line, tagged with its workload and seed, to
        A.jsonl.

    compare.py compare A.jsonl B.jsonl
        A is the parent, B the change. Per workload and end-to-end metric:
        each side's median and quartiles, B's pair win fraction (runs are
        paired by workload and seed), and a verdict:
          improved        B wins at least 9/10 of the pairs and the medians
                          differ by more than A's interquartile distance;
          no worse        B's median is not worse than A's by more than the
                          metric's bound;
          worse           B's median is worse than A's by more than the bound;
          unresolved      A's own spread is wider than the bound, so neither
                          of the last two can be told, unless every run of B
                          reads better than every run of A (then: improved).
        Every ratio is printed with its base.

    compare.py agree A.jsonl [B.jsonl]
        The steadiness test for two sets of runs of the same code: every
        end-to-end metric's interquartile distance, as a share of its
        median, within its bound (setup_s exempt) on each set, and B's
        median not worse than A's by more than the bound. Exits 1 if not.
        Also prints whether each spread is under a third of its bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from metrics import END_TO_END, WORKLOADS  # noqa: E402

BOUNDS = {m["name"]: m["bound"] for m in END_TO_END}
BETTER = {m["name"]: m["better"] for m in END_TO_END}


def load(path):
    runs = []
    with open(path) as f:
        for line in f:
            if line.strip():
                runs.append(json.loads(line))
    return runs


def series(runs, workload, metric):
    """{seed: value} of one metric over the correct runs of a workload."""
    return {r["seed"]: r["metrics"][metric]["value"] for r in runs
            if r["workload"] == workload and r["correct"] and metric in r["metrics"]}


def quartiles(values):
    if len(values) < 2:
        v = values[0] if values else float("nan")
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")


def worse_by(metric, base, new):
    """How much worse `new` is than `base`, as a share of `base`
    (negative when better)."""
    d = (new - base) / base
    return d if BETTER[metric] == "lower" else -d


def verdict(metric, a, b):
    """(verdict, detail) for two {seed: value} series of one metric."""
    va, vb = list(a.values()), list(b.values())
    qa, qb = quartiles(va), quartiles(vb)
    pairs = [(a[s], b[s]) for s in a if s in b]
    sign = 1 if BETTER[metric] == "lower" else -1
    wins = sum(1 for x, y in pairs if sign * (x - y) > 0)
    win_frac = wins / len(pairs) if pairs else 0.0
    bound = BOUNDS[metric]
    gain = -worse_by(metric, qa[1], qb[1])
    all_better = bool(va and vb) and (
        max(vb) < min(va) if sign == 1 else min(vb) > max(va))
    if win_frac >= 0.9 and abs(qb[1] - qa[1]) > (qa[2] - qa[0]) and gain > 0:
        v = "improved"
    elif all_better:
        v = "improved"
    elif spread(va) > bound:
        v = "unresolved"
    elif -gain > bound:
        v = "worse"
    else:
        v = "no worse"
    detail = (f"A median {qa[1]:.6g} [q1 {qa[0]:.6g}, q3 {qa[2]:.6g}] n={len(va)}; "
              f"B median {qb[1]:.6g} [q1 {qb[0]:.6g}, q3 {qb[2]:.6g}] n={len(vb)}; "
              f"B/A = {qb[1] / qa[1]:.4f} (base A = {qa[1]:.6g}); "
              f"B wins {wins}/{len(pairs)} pairs ({win_frac:.2f}); "
              f"A spread {spread(va):.4f} of its median; bound {bound}")
    return v, detail


def cmd_run(args):
    lo, hi = (int(x) for x in args.seeds.split("-"))
    with open(args.out, "a") as out:
        for w in args.workloads:
            for seed in range(lo, hi + 1):
                p = subprocess.run(
                    [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                     "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
                    capture_output=True, text=True)
                lines = p.stdout.strip().splitlines()
                if p.returncode != 0 or not lines:
                    print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
                    continue
                rec = dict(json.loads(lines[-1]), workload=w, seed=seed, trace=args.trace)
                out.write(json.dumps(rec) + "\n")
                out.flush()
                summary = " ".join(f"{k}={v['value']:.5g}" for k, v in rec["metrics"].items()
                                   if k in BOUNDS)
                print(f"{w} seed {seed}: correct={rec['correct']} {summary}", flush=True)


def cmd_compare(args):
    a, b = load(args.a), load(args.b)
    for w in WORKLOADS:
        for m in BOUNDS:
            sa, sb = series(a, w, m), series(b, w, m)
            if sa and sb:
                v, detail = verdict(m, sa, sb)
                print(f"{w:18s} {m:15s} {v:11s} {detail}")


def cmd_agree(args):
    sets = [load(args.a)] + ([load(args.b)] if args.b else [])
    ok = True
    for w in WORKLOADS:
        for m in BOUNDS:
            vals = [list(series(s, w, m).values()) for s in sets]
            if not vals[0]:
                continue
            spreads = [spread(v) for v in vals]
            bound = BOUNDS[m]
            line = f"{w:18s} {m:15s} spreads " + ", ".join(f"{s:.4f}" for s in spreads)
            if m != "setup_s":
                if any(s > bound for s in spreads):
                    ok = False
                    line += f"  OVER bound {bound}"
                elif any(s > bound / 3 for s in spreads):
                    line += f"  over a third of bound {bound}"
            if len(vals) == 2:
                d = worse_by(m, statistics.median(vals[0]), statistics.median(vals[1]))
                line += f"; B vs A median {d:+.4f} (base A = {statistics.median(vals[0]):.6g})"
                if d > bound:
                    ok = False
                    line += "  WORSE than bound"
            print(line)
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser(description="collect and compare benchmark runs")
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--out", required=True)
    r.add_argument("--workloads", nargs="+", default=WORKLOADS, choices=WORKLOADS)
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--seconds", type=int, default=10)
    r.add_argument("--trace", type=int, default=0)
    c = sub.add_parser("compare")
    c.add_argument("a")
    c.add_argument("b")
    g = sub.add_parser("agree")
    g.add_argument("a")
    g.add_argument("b", nargs="?")
    args = ap.parse_args()
    dict(run=cmd_run, compare=cmd_compare, agree=cmd_agree)[args.cmd](args)


if __name__ == "__main__":
    main()
