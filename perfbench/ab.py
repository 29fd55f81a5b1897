#!/usr/bin/env python3
"""A/B runner: alternating fresh-JVM pairs of two commits.

    python3 perfbench/ab.py <base> <change> [--pairs 10]
                            [--workloads a,b] [--scratch DIR] [--seed N]

Each commit is checked out in a git worktree under the scratch directory
(default .perfbench/ab) and built there, so the repository's own build is
never touched. Both sides run this checkout's benchmark code and
settings. Pair i runs both sides with seed N+i, base first on even pairs
and change first on odd ones. For each workload and end-to-end metric it
prints each side's median and quartiles, the change's win fraction and a
verdict under the pairs rule: a gain (or loss) needs at least 9/10 pair
wins and a median difference above the base's interquartile range; a
spread wider than the metric's bound is unresolved. Then it prints the
per-layer deltas from one traced run per side.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import STATE, WORKLOADS, load_spec  # noqa: E402


def git(*args, cwd=ROOT):
    return subprocess.run(["git", *args], cwd=cwd, check=True, text=True,
                           stdout=subprocess.PIPE).stdout.strip()


def worktree(scratch, rev):
    sha = git("rev-parse", rev)
    path = os.path.join(scratch, sha[:12])
    if not os.path.isdir(path):
        git("worktree", "add", "--detach", path, sha)
    # identical benchmark code and settings on both sides
    shutil.rmtree(os.path.join(path, "perfbench"), ignore_errors=True)
    shutil.copytree(HERE, os.path.join(path, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "__pycache__"))
    shutil.copyfile(os.path.join(ROOT, "BENCHMARK.json"), os.path.join(path, "BENCHMARK.json"))
    return path


def bench(path, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=path, stdout=subprocess.PIPE, text=True)
    if out.returncode != 0:
        raise SystemExit(f"{path}: {workload} failed (exit {out.returncode})")
    return json.loads(out.stdout.splitlines()[-1])


def quartiles(xs):
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def verdict(a, b, better, bound):
    q1, med_a, q3 = quartiles(a)
    med_b = statistics.median(b)
    sign = 1 if better == "higher" else -1
    wins = sum(1 for x, y in zip(a, b) if sign * (y - x) > 0) / len(a)
    losses = sum(1 for x, y in zip(a, b) if sign * (y - x) < 0) / len(a)
    diff = med_b - med_a
    if wins >= 0.9 and abs(diff) > q3 - q1:
        v = "change better"
    elif losses >= 0.9 and abs(diff) > q3 - q1:
        v = "change worse"
    elif med_a and (q3 - q1) / med_a > bound:
        v = "unresolved: base spread wider than bound"
    elif med_a and -sign * diff / med_a > bound:
        v = "change worse by more than the bound"
    else:
        v = "no change beyond the bound"
    return wins, v


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1000)
    ap.add_argument("--workloads", default=",".join(WORKLOADS))
    ap.add_argument("--scratch", default=os.path.join(STATE, "ab"))
    args = ap.parse_args()
    if args.pairs < 10:
        raise SystemExit("the pairs rule needs at least 10 pairs")
    spec = load_spec()
    seconds = spec["run_seconds"]
    os.makedirs(args.scratch, exist_ok=True)
    sides = {"base": worktree(args.scratch, args.base), "change": worktree(args.scratch, args.change)}
    workloads = args.workloads.split(",")
    vals = {(s, w): [] for s in sides for w in workloads}
    for i in range(args.pairs):
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        for w in workloads:
            for s in order:
                line = bench(sides[s], w, args.seed + i, seconds, 0)
                if not line["correct"]:
                    print(f"pair {i} {s} {w}: {line['failed']} of {line['attempted']} ops failed")
                vals[(s, w)].append({k: v["value"] for k, v in line["metrics"].items()})
        print(f"pair {i + 1}/{args.pairs} done", file=sys.stderr)

    print(f"base {args.base} vs change {args.change}: {args.pairs} pairs, run_seconds {seconds}")
    for w in workloads:
        print(f"\n== {w}")
        print(f"  {'metric':14s} {'base q1/med/q3':>32s} {'change q1/med/q3':>32s}  wins  verdict")
        for m in spec["end_to_end"]:
            a = [r[m["name"]] for r in vals[("base", w)]]
            b = [r[m["name"]] for r in vals[("change", w)]]
            wins, v = verdict(a, b, m["better"], m["bound"])
            fa = "/".join(f"{x:.4g}" for x in quartiles(a))
            fb = "/".join(f"{x:.4g}" for x in quartiles(b))
            print(f"  {m['name']:14s} {fa:>32s} {fb:>32s}  {wins:4.0%}  {v}")
        ta = bench(sides["base"], w, args.seed, seconds, 1)["metrics"]
        tb = bench(sides["change"], w, args.seed, seconds, 1)["metrics"]
        print("  per layer (one traced run per side): base -> change")
        for m in spec["per_layer"]:
            x, y = ta[m["name"]]["value"], tb[m["name"]]["value"]
            if x or y:
                rel = f"{(y - x) / x:+.1%}" if x else "new"
                print(f"    {m['name']:32s} {x:12.4f} -> {y:12.4f} {m['unit']:6s} {rel}")


if __name__ == "__main__":
    main()
