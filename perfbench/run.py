#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the benchmark
from source (sbt, offline) on first use, generates the workload's inputs
from the seed, computes the oracle's expected results, runs the JVM side
in a fresh process with fresh scratch state, checks its outputs, and
prints one JSON line last: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1. The full result of the run is kept in
.perfbench/last/<workload>-trace<t>.json for report.py and ab.py.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

STATE = os.path.join(ROOT, ".perfbench")
BASE_DATA = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = ("hydromet_read", "hydromet_ingest", "corpus_prep")
CORPUS_FACTOR = 1
INGEST_CYCLES = 40
JVM_HEAP = "3g"
DEADLINE_S = 170
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def source_hash():
    """Hash of everything the build compiles, to reuse a finished build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Classpath of the benchmark, building it if the sources changed."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("perfbench: engine sources not found next to perfbench/ "
                         "(run from the root of a checkout)")
    stamp = os.path.join(STATE, "build", "classpath.json")
    key = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached["key"] == key:
            return cached["classpath"]
    log("building engine and benchmark (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.forcestart=false", "-J-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    out = subprocess.run(cmd + ["export Runtime/fullClasspath"], cwd=HERE, env=env,
                         stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                         timeout=850)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"key": key, "classpath": lines[-1]}, f)
    return lines[-1]


def cached_expected(data_dir, queries):
    """Oracle digests, reused across runs when the SQL and data match."""
    h = hashlib.sha256(json.dumps(queries, sort_keys=True).encode())
    for t in sorted(os.listdir(data_dir)):
        with open(os.path.join(data_dir, t), "rb") as f:
            h.update(f.read())
    path = os.path.join(STATE, "oracle-cache", h.hexdigest() + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    exp = oracle.expected(data_dir, queries)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(exp, f)
    return exp


def make_config(workload, seed, seconds, trace, work):
    cfg = {"workload": workload, "seconds": seconds, "trace": bool(trace),
           "work_dir": work, "cores": os.cpu_count() or 1, "base_dir": BASE_DATA}
    inputs = os.path.join(work, "inputs")
    if workload == "hydromet_read":
        cfg["read"] = dict(gen.read_inputs(seed), data_dir=BASE_DATA)
    elif workload == "corpus_prep":
        d = os.path.join(inputs, "corpus")
        docs = gen.corpus_inputs(seed, BASE_DATA, d, CORPUS_FACTOR)
        cfg["corpus"] = {"data_dir": d, "stages": gen.CORPUS_STAGES, "docs": docs}
    else:
        cfg["ingest"] = gen.ingest_inputs(seed, os.path.join(inputs, "ingest"), INGEST_CYCLES)
    return cfg


def answer_oracle(cfg, work, jvm):
    """Wait for the JVM's oracle request and write the expected digests."""
    req = os.path.join(work, "oracle_request.json")
    while not os.path.exists(req):
        if jvm.poll() is not None:
            return
        time.sleep(0.02)
    with open(req) as f:
        queries = json.load(f)
    if cfg["workload"] == "hydromet_read":
        exp = cached_expected(BASE_DATA, queries)
    elif queries:
        exp = oracle.expected(cfg["corpus"]["data_dir"], queries)
    else:
        exp = {}
    tmp = os.path.join(work, "expected.json.tmp")
    with open(tmp, "w") as f:
        json.dump(exp, f)
    os.replace(tmp, os.path.join(work, "expected.json"))


def end_to_end(res):
    return {
        "setup_s": res["setup_s"],
        "op_p50_ms": statistics.median(res["latency_ms"]),
        "work_per_s": res["work_units"] / res["work_wall_s"] if res["work_wall_s"] > 0 else 0.0,
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = load_spec()
    classpath = build()
    # a run that builds may take longer; the rest has DEADLINE_S
    started = time.time()
    work = os.path.join(STATE, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cfg = make_config(args.workload, args.seed, args.seconds, args.trace, work)
    cfg_path = os.path.join(work, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)

    cmd = ["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += [f"-Xmx{JVM_HEAP}", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work}/tmp",
            "-cp", classpath, "perfbench.Main", cfg_path]
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as out:
        jvm = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT)
        try:
            answer_oracle(cfg, work, jvm)
            jvm.wait(timeout=max(1, DEADLINE_S - (time.time() - started)))
        except BaseException:
            jvm.kill()
            jvm.wait()
            raise
    result_path = os.path.join(work, "result.json")
    if jvm.returncode != 0 or not os.path.exists(result_path):
        with open(jvm_log) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: JVM exited with {jvm.returncode}")
    with open(result_path) as f:
        res = json.load(f)

    failed = [o for o in res["ops"] if not o["ok"]]
    for o in failed:
        print(f"FAIL {o['name']}: {o['error']}")
    for w in res["warmup_failures"]:
        print(f"FAIL (warm-up) {w}")
    if args.trace:
        names = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        values = {n: res["per_layer"].get(n, 0.0) for n in names}
    else:
        names = [m["name"] for m in spec["end_to_end"]]
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        values = end_to_end(res)
    metrics = {n: {"value": values[n], "unit": units[n]} for n in names}
    line = {"correct": not failed and not res["warmup_failures"], "attempted": len(res["ops"]),
            "failed": len(failed), "metrics": metrics}

    res.update(seed=args.seed, seconds=args.seconds, nproc=cfg["cores"], end_to_end=end_to_end(res),
               run_wall_s=time.time() - started)
    last = os.path.join(STATE, "last")
    os.makedirs(last, exist_ok=True)
    with open(os.path.join(last, f"{args.workload}-trace{args.trace}.json"), "w") as f:
        json.dump(res, f, indent=1)
    print(json.dumps(line))


if __name__ == "__main__":
    main()
