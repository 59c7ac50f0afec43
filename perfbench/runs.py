#!/usr/bin/env python3
"""Run the benchmark over many seeds and record the run set.

    python3 perfbench/runs.py --seeds 1-10 --out perfbench/evidence/head.json
        [--workloads sample_reduce,index_follow] [--traced-seeds 1]
        [--other DIR --other-out FILE]

Every workload of BENCHMARK.json runs once per seed with --trace 0, for
BENCHMARK.json's run_seconds. --traced-seeds adds, per seed and workload, an
untraced run followed by a traced one; the summary states the tracing
overhead from that pair (traced minus untraced iteration time). With
--other, the checkout at DIR runs the same seeds as a second side, the two
sides alternating which runs first, and its run set goes to --other-out:
the pairs perfbench/compare.py expects.

The summary gives, per workload and end-to-end metric, the median and the
spread between the quartiles as a share of the median, against the bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seed_list(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(root, workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall = time.time() - t0
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} trace {trace} exited {p.returncode}:\n{p.stderr[-3000:]}")
    info = next((json.loads(ln) for ln in lines[:-1] if ln.startswith('{"workload"')), {})
    return {"workload": workload, "seed": seed, "trace": trace, "wall_s": round(wall, 2),
            "result": json.loads(lines[-1]), "info": info}


def spread(xs):
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return med, (q3 - q1) / med


def summarize(runs, spec):
    lines = []
    for w in [x["name"] for x in spec["workloads"]]:
        mine = [r for r in runs if r["workload"] == w and r["trace"] == 0 and not r.get("overhead_pair")]
        if len(mine) < 2:
            continue
        ok = all(r["result"]["correct"] and r["result"]["failed"] == 0 for r in mine)
        lines.append(f"{w}: {len(mine)} runs, all correct with 0 failed: {ok}, "
                     f"mean wall {statistics.mean(r['wall_s'] for r in mine):.1f} s")
        for m in spec["end_to_end"]:
            med, rel = spread([r["result"]["metrics"][m["name"]]["value"] for r in mine])
            mark = "ok" if rel <= m["bound"] / 3 else ("within bound" if rel <= m["bound"] else "OVER BOUND")
            lines.append(f"  {m['name']:<10} median {med:12.4f} {m['unit']:<4} spread {rel:6.3f}"
                         f"  bound {m['bound']:.2f}  {mark}")
        pairs = [r for r in runs if r["workload"] == w and r.get("overhead_pair")]
        traced = {r["seed"]: r for r in pairs if r["trace"] == 1}
        for s, t in sorted(traced.items()):
            u = next((r for r in pairs if r["seed"] == s and r["trace"] == 0), None)
            if u:
                tc = t["result"]["metrics"]["trace.cycle_s"]["value"]
                uc = u["info"]["cycle_s"]
                lines.append(f"  tracing overhead, seed {s}: iteration {uc:.3f} s untraced, "
                             f"{tc:.3f} s traced, {tc - uc:+.3f} s ({100 * (tc - uc) / uc:+.1f}%)")
    return "\n".join(lines)


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default="")
    ap.add_argument("--traced-seeds", default="")
    ap.add_argument("--out", required=True)
    ap.add_argument("--other", help="root of a second checkout to run alternately")
    ap.add_argument("--other-out")
    a = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    seconds = spec["run_seconds"]
    sides = [(ROOT, a.out, [])]
    if a.other:
        if not a.other_out:
            ap.error("--other needs --other-out")
        sides.append((os.path.abspath(a.other), a.other_out, []))

    # a traced run follows an extra untraced run of the same seed, so the
    # tracing overhead compares two runs made one after the other
    plan = [(w, s, 0, False) for s in seed_list(a.seeds) for w in workloads]
    if a.traced_seeds:
        plan += [(w, s, t, True) for s in seed_list(a.traced_seeds) for w in workloads for t in (0, 1)]
    for n, (w, s, t, pair) in enumerate(plan):
        order = sides if n % 2 == 0 else sides[::-1]
        for root, _, runs in order:
            r = run_once(root, w, s, seconds, t)
            r["overhead_pair"] = pair
            runs.append(r)
            print(f"{os.path.basename(root) or root} {w} seed {s} trace {t}: {r['wall_s']} s "
                  f"{json.dumps(r['result']['metrics']) if t == 0 else ''}", file=sys.stderr)
    for root, out, runs in sides:
        os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
        with open(out, "w") as f:
            json.dump({"run_seconds": seconds, "runs": runs}, f, indent=1)
        print(f"== {out}\n{summarize(runs, spec)}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
