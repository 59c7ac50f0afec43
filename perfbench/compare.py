#!/usr/bin/env python3
"""Compare two sets of benchmark runs, one row per workload and metric.

    python3 perfbench/compare.py PARENT.json CHANGE.json [--layers]

Each file is a run set written by perfbench/runs.py. Every run of a seed
both sides ran is paired, whether it passed its checks or not. Each workload
first gets a `checks` row: per side, the runs that were not correct and the
failed and attempted operations. It reads "worse" if any change run is not
correct or fails more operations than the parent run of its seed; a gain
does not count then, so every metric row of that workload reads "worse" too.

For every workload and end-to-end metric the table gives both sides' median
and quartiles, the fraction of seed-paired runs the change wins (ties count
for neither) and a verdict, by the rule of the benchmark (BENCHMARK.json
holds the bounds):

  improved      the change wins at least 9/10 of the pairs, and the medians
                differ by more than the parent's own quartile spread
  unresolved    the parent's spread, as a share of its median, exceeds the
                bound, and not every change run beats every parent run
  worse         the change's median is worse than the parent's by more than
                the bound
  within bound  otherwise

With --layers the per-layer metrics are listed too; they have no bound, so
their verdict is only "improved" or "-".

Exits 1 if any row reads "worse", else 0.
"""
import argparse
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_runs(path):
    with open(path) as f:
        return json.load(f)["runs"]


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def by_seed(runs, workload, trace):
    """The results of a workload's runs, by seed."""
    return {r["seed"]: r["result"] for r in runs
            if r["workload"] == workload and r["trace"] == trace and not r.get("overhead_pair")}


def checks(ra, rb):
    """The checks row of seed-paired results: (parent, change, verdict)."""
    def side(rs):
        return (f"{sum(not r['correct'] for r in rs)} bad, "
                f"{sum(r['failed'] for r in rs)}/{sum(r['attempted'] for r in rs)} failed")
    worse = any(not b["correct"] or b["failed"] > a["failed"] for a, b in zip(ra, rb))
    return side(ra), side(rb), "worse" if worse else "ok"


def verdict(a, b, better, bound):
    """a, b: parent and change values paired by seed (same order)."""
    sign = 1 if better == "higher" else -1
    wins = sum(1 for x, y in zip(a, b) if sign * (y - x) > 0)
    win_frac = wins / len(a)
    qa1, ma, qa3 = quartiles(a)
    _, mb, _ = quartiles(b)
    spread = qa3 - qa1
    if win_frac >= 0.9 and sign * (mb - ma) > spread:
        return "improved", win_frac
    if bound is None:
        return "-", win_frac
    all_better = all(sign * (y - x) > 0 for x in a for y in b)
    if spread / ma > bound and not all_better:
        return "unresolved", win_frac
    if -sign * (mb - ma) / ma > bound:
        return "worse", win_frac
    return "within bound", win_frac


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--layers", action="store_true", help="also list the per-layer metrics")
    ap.add_argument("--bench", default=os.path.join(ROOT, "BENCHMARK.json"))
    a = ap.parse_args(argv)
    with open(a.bench) as f:
        spec = json.load(f)
    pa, pb = load_runs(a.parent), load_runs(a.change)
    metrics = [(m, 0) for m in spec["end_to_end"]]
    if a.layers:
        metrics += [(m, 1) for m in spec["per_layer"]]

    header = (f"{'workload':<14} {'metric':<32} {'n':>3} {'parent q1/med/q3':>30} "
              f"{'change q1/med/q3':>30} {'wins':>5}  verdict")
    print(header)
    print("-" * len(header))
    worse = False
    for w in [x["name"] for x in spec["workloads"]]:
        failing = False
        for trace in sorted({t for _, t in metrics}):
            sa, sb = by_seed(pa, w, trace), by_seed(pb, w, trace)
            seeds = sorted(set(sa) & set(sb))
            if seeds:
                fa, fb, v = checks([sa[s] for s in seeds], [sb[s] for s in seeds])
                failing |= v == "worse"
                print(f"{w:<14} {'checks (trace %d)' % trace:<32} {len(seeds):>3} {fa:>30} {fb:>30} {'':>5}  {v}")
        worse |= failing
        for m, trace in metrics:
            sa, sb = by_seed(pa, w, trace), by_seed(pb, w, trace)
            seeds = [s for s in sorted(set(sa) & set(sb))
                     if m["name"] in sa[s]["metrics"] and m["name"] in sb[s]["metrics"]]
            if not seeds:
                continue
            xa = [sa[s]["metrics"][m["name"]]["value"] for s in seeds]
            xb = [sb[s]["metrics"][m["name"]]["value"] for s in seeds]
            v, win = verdict(xa, xb, m["better"], m.get("bound"))
            if failing:
                v = "worse"
            worse |= v == "worse"
            fa = "/".join(f"{x:.4g}" for x in quartiles(xa))
            fb = "/".join(f"{x:.4g}" for x in quartiles(xb))
            print(f"{w:<14} {m['name']:<32} {len(seeds):>3} {fa:>30} {fb:>30} {win:>5.2f}  {v}")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
