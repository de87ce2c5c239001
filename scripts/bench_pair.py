#!/usr/bin/env python3
"""Paired benchmark runs: a git revision against the working tree.

Run from the root of the repo:

    python3 scripts/bench_pair.py --rev HEAD~1 --workload images_mixed --seeds 1 2 3 4 5 6

Unpacks `git archive <rev>` into a temporary directory, then runs
`perfbench/run.py` once per seed in that copy and once in the working tree,
alternating which side goes first from one seed to the next. Prints every
run, then for each end-to-end metric of BENCHMARK.json each side's median,
min, quartiles and spread ((q3 - q1) / median, as perfbench/baseline.json
defines it), the number of seeds on which the working tree was better, and
a verdict against the metric's bound ("unresolved" when the base's own
spread is wider than the bound).
Each side builds into its own .bench_build/ before its first timed run.
Both sides run for the `run_seconds` that BENCHMARK.json sets.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile


def unpack(rev, dest):
    archive = subprocess.run(["git", "archive", rev], check=True, stdout=subprocess.PIPE).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run_once(root, workload, seed, seconds):
    """One perfbench invocation; returns its parsed JSON result."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds)]
    proc = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True)
    last = next((l for l in reversed(proc.stdout.splitlines()) if l.startswith("{")), None)
    if last is None:
        tail = "\n".join(proc.stderr.splitlines()[-20:])
        sys.exit(f"bench_pair: no result from {root} (seed {seed}, exit {proc.returncode})\n{tail}")
    return json.loads(last)


def quartiles(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return q1, med, q3


def spread(values):
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else float("nan")


def summary(values):
    q1, med, q3 = quartiles(values)
    return (f"median {med:.4g}  min {min(values):.4g}  q1 {q1:.4g}  q3 {q3:.4g}  "
            f"spread {spread(values):.1%}")


def verdict(base, tree, better, bound):
    """'unresolved' when the base's own spread is wider than the bound (the
    runs cannot tell a regression of that size from noise) unless every tree
    run is better than every base run, else whether the tree's median is
    worse than the base's by more than the bound."""
    sign = 1 if better == "lower" else -1
    if not spread(base) <= bound:
        every = max(sign * t for t in tree) < min(sign * b for b in base)
        return "better on every run" if every else "unresolved"
    worse = sign * (statistics.median(tree) / statistics.median(base) - 1)
    return "beyond bound" if worse > bound else "within bound"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--rev", required=True, help="git revision to compare against")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    args = ap.parse_args()

    tree = os.getcwd()
    with open(os.path.join(tree, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    metrics, seconds = bench["end_to_end"], bench["run_seconds"]
    # a short name: sbt binds a unix socket under <dir>/.bench_build, and
    # socket paths are limited to about 100 bytes
    base_dir = tempfile.mkdtemp(prefix="bp-")
    try:
        unpack(args.rev, base_dir)
        sides = {"base": base_dir, "tree": tree}
        results = {"base": [], "tree": []}
        for i, seed in enumerate(args.seeds):
            order = ["base", "tree"] if i % 2 == 0 else ["tree", "base"]
            for side in order:
                res = run_once(sides[side], args.workload, seed, seconds)
                results[side].append(res)
                values = " ".join(f"{m['name']}={res['metrics'][m['name']]['value']:.4g}"
                                  for m in metrics)
                print(f"seed {seed} {side}: correct={res['correct']} "
                      f"failed={res['failed']}/{res['attempted']} {values}", flush=True)
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)

    print(f"\n{args.workload}: {args.rev} (base) vs working tree (tree), "
          f"{len(args.seeds)} seeds")
    for side in ("base", "tree"):
        failed = sum(r["failed"] for r in results[side])
        attempted = sum(r["attempted"] for r in results[side])
        print(f"{side}: failed {failed}/{attempted} operations")
    for m in metrics:
        name = m["name"]
        base = [r["metrics"][name]["value"] for r in results["base"]]
        tree_v = [r["metrics"][name]["value"] for r in results["tree"]]
        sign = 1 if m["better"] == "lower" else -1
        wins = sum(1 for b, t in zip(base, tree_v) if sign * (b - t) > 0)
        change = statistics.median(tree_v) / statistics.median(base) - 1
        print(f"{name} ({m['unit']}, {m['better']} is better, bound {m['bound']}):")
        print(f"  base  {summary(base)}")
        print(f"  tree  {summary(tree_v)}")
        print(f"  median change {change:+.1%}, tree better on {wins}/{len(base)} seeds, "
              f"{verdict(base, tree_v, m['better'], m['bound'])}")


if __name__ == "__main__":
    main()
