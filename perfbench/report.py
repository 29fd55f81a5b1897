#!/usr/bin/env python3
"""One command for every metric of every workload.

    python3 perfbench/report.py [--seed N] [--workloads a,b,c]

For each workload it makes one untraced and one traced run with the same
seed, then prints the end-to-end metrics (the BENCHMARK.json ones and
their workload names: queries_per_s, cycle_p50_s, docs_per_s, ...;
fail_frac and peak_rss_mb, which are reported but not bounded), the
per-layer metrics by name and unit, and the tracing overhead: the traced
run's mean op wall time minus the untraced run's over the same ops.
"""
import argparse
import json
import os
import platform
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import STATE, WORKLOADS, load_spec  # noqa: E402

# end-to-end metrics under the names the workload's users know them by
NAMED = {
    "hydromet_read": [("queries_per_s", "1/s", lambda e, r: e["work_per_s"]),
                      ("query_p50_ms", "ms", lambda e, r: e["op_p50_ms"]),
                      ("query_p90_ms", "ms", lambda e, r: percentile(walls(r), 90))],
    "hydromet_ingest": [("cycle_p50_s", "s", lambda e, r: e["op_p50_ms"] / 1e3),
                        ("rows_per_s", "1/s", lambda e, r: e["work_per_s"])],
    "corpus_prep": [("docs_per_s", "1/s", lambda e, r: e["work_per_s"]),
                    ("pass_s", "s", lambda e, r: e["op_p50_ms"] / 1e3),
                    ("stage_p50_ms", "ms", lambda e, r: statistics.median(walls(r)))],
}


def percentile(xs, q):
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def walls(res):
    return [o["wall_ms"] for o in res["ops"]]


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    if out.returncode != 0:
        raise SystemExit(f"{workload} trace={trace} failed (exit {out.returncode})")
    for line in out.stdout.splitlines()[:-1]:
        print("  " + line)
    with open(os.path.join(STATE, "last", f"{workload}-trace{trace}.json")) as f:
        return json.loads(out.stdout.splitlines()[-1]), json.load(f)


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT, text=True,
                              stdout=subprocess.PIPE, stderr=subprocess.DEVNULL).stdout.strip() or "unknown"
    except OSError:
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(WORKLOADS))
    args = ap.parse_args()
    spec = load_spec()
    seconds = spec["run_seconds"]
    header = None
    for w in args.workloads.split(","):
        line0, res0 = run(w, args.seed, seconds, 0)
        line1, res1 = run(w, args.seed, seconds, 1)
        if header is None:
            header = (f"commit {commit()}  seed {args.seed}  nproc {res0['nproc']}  "
                      f"JDK {res0['java_version']}  Spark {res0['spark_version']}  "
                      f"run_seconds {seconds}  host {platform.machine()}")
            print(header)
        e2e = res0["end_to_end"]
        attempted, failed = line0["attempted"], line0["failed"]
        print(f"\n== {w}  (correct={line0['correct']}, ops={attempted}, failed={failed})")
        print("-- end to end (tracing off)")
        for m in spec["end_to_end"]:
            print(f"  {m['name']:34s} {e2e[m['name']]:14.4f} {m['unit']}")
        print(f"  {'fail_frac':34s} {failed / attempted:14.4f} ratio")
        print(f"  {'peak_rss_mb':34s} {res0['peak_rss_mb']:14.4f} MB")
        for name, unit, f in NAMED[w]:
            print(f"  {name:34s} {f(e2e, res0):14.4f} {unit}")
        print(f"  (percentiles from {len(res0['ops'])} op samples)")
        print("-- per layer (traced run, mean per op; - = layer not loaded)")
        for m in spec["per_layer"]:
            v = res1["per_layer"].get(m["name"])
            shown = f"{v:14.4f}" if v is not None else f"{'-':>14s}"
            print(f"  {m['name']:34s} {shown} {m['unit']}")
        n = min(len(res0["ops"]), len(res1["ops"]))
        over = statistics.mean(walls(res1)[:n]) - statistics.mean(walls(res0)[:n])
        print(f"  tracing overhead: {over:+.1f} ms per op over the first {n} ops "
              f"({over / statistics.mean(walls(res0)[:n]):+.1%})")


if __name__ == "__main__":
    main()
