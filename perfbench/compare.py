#!/usr/bin/env python3
"""Compare two sets of benchmark runs, per workload and end-to-end metric.

    python3 perfbench/compare.py BASE NEW

BASE and NEW are directories holding the `artifact.json` files that
`perfbench/run.py` writes (any depth), for example copies of
`.bench_build/runs` taken on the parent commit and on the change. Runs are
paired per workload by seed when both sides ran the same seeds, otherwise in
the order they ran; run the sides alternately so pairs share conditions.

Verdict per workload x metric, with the bound from BENCHMARK.json:
  improved     the change won at least 9 of every 10 pairs (ties count for
               neither side) and the medians differ by more than the
               parent's interquartile range
  worse        the change's median is worse than the parent's by more than
               the bound
  unresolved   the parent's own spread (IQR / median) is wider than the
               bound, and not every run of the change beats every parent run
  within bound otherwise
Every ratio is printed with its base value.
"""
import json
import statistics
import sys
from pathlib import Path


def load(d):
    runs = {}
    for f in sorted(Path(d).rglob("artifact.json")):
        a = json.loads(f.read_text())
        if a["env"]["trace"]:
            continue
        w = a["result"]["workload"]
        runs.setdefault(w, []).append(a)
    for w in runs:
        runs[w].sort(key=lambda a: a["result"]["first_op_epoch_us"])
    return runs


def metric(a, name):
    return a["metrics"][name]["value"]


def iqr(xs):
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4)
    return q[2] - q[0]


def verdict(base, new, better, bound):
    sign = 1 if better == "higher" else -1
    mb, mn = statistics.median(base), statistics.median(new)
    pairs = list(zip(base, new))
    wins = sum(1 for b, n in pairs if sign * (n - b) > 0)
    spread = iqr(base)
    worse_by = sign * (mb - mn) / mb if mb else 0.0
    all_better = all(sign * (n - b) > 0 for n in new for b in base)
    if pairs and wins * 10 >= 9 * len(pairs) and abs(mn - mb) > spread and sign * (mn - mb) > 0:
        v = "improved"
    elif worse_by > bound:
        v = "worse"
    elif mb and spread / mb > bound and not all_better:
        v = "unresolved"
    else:
        v = "within bound"
    return v, mb, mn, wins, len(pairs), spread


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    spec = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    base, new = load(sys.argv[1]), load(sys.argv[2])
    rows = []
    for w in sorted(set(base) | set(new)):
        b_runs, n_runs = base.get(w, []), new.get(w, [])
        b_seeds = [a["env"]["seed"] for a in b_runs]
        n_seeds = [a["env"]["seed"] for a in n_runs]
        if sorted(b_seeds) == sorted(n_seeds) and len(set(b_seeds)) == len(b_seeds):
            n_runs = sorted(n_runs, key=lambda a: b_seeds.index(a["env"]["seed"]))
        for m in spec["end_to_end"]:
            bx = [metric(a, m["name"]) for a in b_runs if m["name"] in a.get("metrics", {})]
            nx = [metric(a, m["name"]) for a in n_runs if m["name"] in a.get("metrics", {})]
            if not bx or not nx:
                rows.append((w, m["name"], "missing", ""))
                continue
            v, mb, mn, wins, n, spread = verdict(bx, nx, m["better"], m["bound"])
            rows.append((w, m["name"], v,
                         f"median {mn:.6g} vs base {mb:.6g} {m['unit']} "
                         f"(x{mn / mb:.4f} of base {mb:.6g}); won {wins}/{n} pairs; "
                         f"base IQR {spread:.4g} = {spread / mb:.3f} of base median "
                         f"{mb:.6g}; bound {m['bound']}"))
    for w, name, v, detail in rows:
        print(f"{w:<10} {name:<18} {v:<13} {detail}")
    sys.exit(1 if any(r[2] == "worse" for r in rows) else 0)


if __name__ == "__main__":
    main()
