#!/usr/bin/env python3
"""Run the repository benchmark (perfbench) in two checkouts, interleaved,
and compare their end-to-end metrics.

Usage: python3 tools/perfbench_ab.py <treeA> <treeB> --workload W \
           --seeds 201,202,... [--seconds 10] [--out runs.json]

Each seed is one pair: `python3 perfbench/run.py --workload W --seed S
--seconds N --trace 0` runs once in each tree. The pairs alternate which
tree goes first, so the schedule is the palindrome A B B A A B B A ...
and a monotone drift of the box cancels to first order between the trees
(the tools/ab_run.py discipline). A tree builds its own perfbench jar on
its first run; pass trees that have built once already to keep build
time out of the pairs.

Printed: one line per run (tree, seed, correct, failed/attempted), then
per metric the median of each tree, the ratio B/A, the interquartile
range of each tree's runs, the pairs B won and a verdict, with "better"
and "bound" read from A's BENCHMARK.json. The verdict is "gain" when B
wins at least nine tenths of the pairs (ties count for neither) and the
medians differ by more than A's interquartile range; "WORSE>bound" marks
a median worse than A's by more than the metric's bound. A run that
fails is recorded and reported, and its pair is left out of the
comparison. --out writes every run's result line.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(tree, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, text=True)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    try:
        if r.returncode != 0:
            raise ValueError(f"exit {r.returncode}")
        return json.loads(lines[-1])
    except (ValueError, IndexError) as e:
        return {"error": f"run failed: {e}"}


def iqr(xs):
    xs = sorted(xs)
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[2] - q[0]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("tree_a")
    ap.add_argument("tree_b")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True,
                    help="comma-separated seeds, one A/B pair each")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--out")
    a = ap.parse_args()
    seeds = [int(s) for s in a.seeds.split(",")]
    trees = {"A": os.path.abspath(a.tree_a), "B": os.path.abspath(a.tree_b)}

    runs = []
    for i, seed in enumerate(seeds):
        for label in ("A", "B") if i % 2 == 0 else ("B", "A"):
            res = run_once(trees[label], a.workload, seed, a.seconds)
            runs.append({"tree": label, "seed": seed, **res})
            status = res["error"] if "error" in res else (
                f"correct={res['correct']} "
                f"failed={res['failed']}/{res['attempted']}")
            print(f"{label} seed {seed}: {status}", flush=True)

    with open(os.path.join(trees["A"], "BENCHMARK.json")) as fh:
        metrics = json.load(fh)["end_to_end"]

    broken = {r["seed"] for r in runs if "error" in r}
    pairs = [s for s in seeds if s not in broken]
    print(f"\n{a.workload}, {len(pairs)} pairs"
          + (f" ({len(broken)} left out: a run failed)" if broken else ""))
    if not pairs:
        return
    print(f"{'metric':<14}{'median A':>12}{'median B':>12}{'B/A':>8}"
          f"{'IQR A':>10}{'IQR B':>10}{'B wins':>8}  verdict")

    def values(label, name):
        return {r["seed"]: r["metrics"][name]["value"]
                for r in runs if r["tree"] == label and r["seed"] in pairs}

    for m in metrics:
        name = m["name"]
        va, vb = values("A", name), values("B", name)
        ma, mb = statistics.median(va.values()), statistics.median(vb.values())
        iqr_a, iqr_b = iqr(va.values()), iqr(vb.values())
        sign = 1 if m["better"] == "higher" else -1
        wins = sum(sign * (vb[s] - va[s]) > 0 for s in pairs)
        ratio = mb / ma if ma else float("nan")
        verdict = ("gain" if wins >= 0.9 * len(pairs)
                   and sign * (mb - ma) > iqr_a else "-")
        # relative worsening of B's median against A's
        if ma and sign * (ma - mb) / abs(ma) > m["bound"]:
            verdict += f"  WORSE>bound({m['bound']})"
        print(f"{name:<14}{ma:>12.4g}{mb:>12.4g}{ratio:>8.3f}"
              f"{iqr_a:>10.3g}{iqr_b:>10.3g}{wins:>5}/{len(pairs)}  "
              f"{verdict}")

    if a.out:
        with open(a.out, "w") as fh:
            json.dump({"workload": a.workload, "trees": trees,
                       "runs": runs}, fh, indent=1)


if __name__ == "__main__":
    main()
