#!/usr/bin/env python3
"""Paired perfbench runs of two checkouts, summarised against BENCHMARK.json.

    python3 tools/perf_pairs.py PARENT_DIR CHANGE_DIR --workload W --seeds A-B
        [--seconds 10] [--trace 0]

Each seed in A..B is one pair: `python3 perfbench/run.py --workload W
--seed S --seconds X --trace T` runs once in each checkout, the parent
first in odd pairs and the change first in even ones, so a drift in
ambient load lands on both sides alike. Every run's result line is
printed as it finishes. At the end, for each `end_to_end` metric that
BENCHMARK.json declares, one line gives both medians, the parent's
interquartile range, how many pairs the change won (strictly better in
the metric's `better` direction) and tied, and whether the change's
median is inside the metric's regression bound (worse than the parent's
median by no more than `bound`, a fraction of it).

Both checkouts should be plain copies of the committed files (`git
archive`), each with its own `perfbench/target`: the first run in each
builds it. The exit status is 1 when a run failed or was incorrect, or a
median is outside its bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_one(checkout, workload, seed, seconds, trace):
    """The result object of one perfbench run, or None when it failed."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        return None
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="A-B, inclusive")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    lo, _, hi = a.seeds.partition("-")
    seeds = range(int(lo), int(hi or lo) + 1)
    with open(os.path.join(a.parent, "BENCHMARK.json")) as f:
        declared = json.load(f)["end_to_end"]

    sides = {"parent": a.parent, "change": a.change}
    results = {"parent": [], "change": []}
    bad = 0
    for i, seed in enumerate(seeds):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {}
        for side in order:
            r = run_one(sides[side], a.workload, seed, a.seconds, a.trace)
            ok = r is not None and r["correct"] and r["failed"] == 0
            bad += not ok
            values = {k: v["value"] for k, v in r["metrics"].items()} if r else {}
            print(json.dumps({"pair": i + 1, "seed": seed, "side": side, "ok": ok,
                              "failed": r and r["failed"], "metrics": values}), flush=True)
            pair[side] = values if ok else None
        if pair["parent"] and pair["change"]:
            for side in sides:
                results[side].append(pair[side])

    n = len(results["parent"])
    print(f"{a.workload}: {n} complete pairs of {len(seeds)}, {bad} failed or incorrect runs")
    out = bad > 0
    for m in declared:
        name, lower = m["name"], m["better"] == "lower"
        par = [r[name] for r in results["parent"]]
        chg = [r[name] for r in results["change"]]
        if n < 2:
            print(f"  {name}: too few pairs")
            out = True
            continue
        pm, cm = statistics.median(par), statistics.median(chg)
        q1, _, q3 = statistics.quantiles(par, n=4, method="inclusive")
        won = sum((c < p) if lower else (c > p) for p, c in zip(par, chg))
        tied = sum(c == p for p, c in zip(par, chg))
        worse = (cm - pm) if lower else (pm - cm)
        rel = worse / pm if pm else (0.0 if worse <= 0 else float("inf"))
        inside = rel <= m["bound"]
        out |= not inside
        move = (cm - pm) / pm * 100 if pm else 0.0
        print(f"  {name} ({m['unit']}): parent {pm:.4g} -> change {cm:.4g} ({move:+.1f}%), "
              f"parent IQR {q3 - q1:.4g}, change won {won}/{n}, tied {tied}, "
              f"{'inside' if inside else 'OUTSIDE'} bound {m['bound']:.0%}")
    sys.exit(1 if out else 0)


if __name__ == "__main__":
    main()
