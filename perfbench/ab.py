#!/usr/bin/env python3
"""Repeated runs of the benchmark, for steadiness checks and A/B pairs.

Spread of one checkout over seeds (median and interquartile range as a
share of the median, per metric):

    python3 perfbench/ab.py spread --workload olap_cached --seeds 1-10 --seconds 11 [--trace 1]

Pairs of a parent and a change checkout, alternating which side runs
first, judged by the pair rule (stats.pair_gain):

    python3 perfbench/ab.py pairs --workload olap_cached --seeds 1-10 --seconds 11 \\
        --parent ../parent-checkout --change .

Each run is `python3 perfbench/run.py` in that checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.exit(f"run failed in {checkout} (seed {seed}, exit {r.returncode}):\n{r.stderr[-3000:]}")
    out = json.loads(lines[-1])
    return {k: v["value"] for k, v in out["metrics"].items()}, out


def spread(a):
    runs = []
    for s in seeds(a.seeds):
        m, out = run_once(a.checkout, a.workload, s, a.seconds, a.trace)
        runs.append(m)
        print(json.dumps({"seed": s, "correct": out["correct"], "attempted": out["attempted"],
                          "failed": out["failed"], "metrics": m}), flush=True)
    print(f"{'metric':28s} {'median':>14s} {'q1':>14s} {'q3':>14s} {'iqr/median':>10s}")
    for k in runs[0]:
        xs = [r[k] for r in runs]
        q1, q2, q3 = stats.quartiles(xs) if len(xs) > 1 else (xs[0],) * 3
        share = stats.iqr_share(xs) if len(xs) > 1 and q2 else 0.0
        print(f"{k:28s} {q2:14.4f} {q1:14.4f} {q3:14.4f} {share:10.4f}")


def pairs(a):
    better = {}
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        for m in json.load(f)["end_to_end"]:
            better[m["name"]] = m["better"]
    parent, change = [], []
    for i, s in enumerate(seeds(a.seeds)):
        order = [("parent", a.parent), ("change", a.change)]
        if i % 2:
            order.reverse()
        got = {side: run_once(path, a.workload, s, a.seconds, 0)[0] for side, path in order}
        parent.append(got["parent"])
        change.append(got["change"])
    print(f"{'metric':16s} {'parent med':>14s} {'change med':>14s} {'wins':>6s} gain")
    for k in parent[0]:
        p = [r[k] for r in parent]
        c = [r[k] for r in change]
        lower = better.get(k, "lower") == "lower"
        wins = sum(1 for x, y in zip(p, c) if (x - y if lower else y - x) > 0)
        gain = len(p) >= 10 and stats.pair_gain(p, c, lower_is_better=lower)
        print(f"{k:16s} {statistics.median(p):14.4f} {statistics.median(c):14.4f} "
              f"{wins:3d}/{len(p):<2d} {gain}")


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    sp = sub.add_parser("spread")
    sp.add_argument("--checkout", default=".")
    sp.add_argument("--trace", type=int, default=0)
    pp = sub.add_parser("pairs")
    pp.add_argument("--parent", required=True)
    pp.add_argument("--change", default=".")
    for p in (sp, pp):
        p.add_argument("--workload", required=True)
        p.add_argument("--seeds", default="1-10")
        p.add_argument("--seconds", type=float, default=11)
    a = ap.parse_args()
    spread(a) if a.cmd == "spread" else pairs(a)


if __name__ == "__main__":
    main()
