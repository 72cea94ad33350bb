#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed, runs the workload in a fresh JVM
(perfbench/harness), and prints as the last stdout line
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.
Everything it writes goes under .bench_build/ and .bench_work/ of the
checkout; a traced run leaves its spans and layer file in
.bench_work/runs/<workload>-<seed>-trace/trace/.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_dump  # noqa: E402
import gen_tables  # noqa: E402

# Input sizes, fixed by the benchmark (the seed varies content, not size).
DUMP_PAGES = 300
TABLES_SF = 0.01
TABLES_SEED = 42
# Bump when a generator's output for the same arguments changes.
GENERATOR_VERSION = "1"

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
JVM_TIMEOUT_S = 170


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def cached(dest, make, *params):
    """Generate into `dest` once per (generator version, params); a stamp
    marks a complete generation."""
    stamp = os.path.join(dest, ".complete")
    key = repr((GENERATOR_VERSION,) + params)
    if os.path.exists(stamp) and open(stamp).read() == key:
        return dest
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    make(dest)
    with open(stamp, "w") as f:
        f.write(key)
    return dest


def prepare_inputs(workload, seed):
    data = os.path.join(WORK, "data")
    if workload == "dump_import":
        return cached(os.path.join(data, "dump", str(seed)),
                      lambda p: gen_dump.generate(p, DUMP_PAGES, seed), DUMP_PAGES, seed)
    d = os.path.join(data, "query_mix")
    cached(os.path.join(d, "tables"), lambda p: gen_tables.generate(p, TABLES_SF, TABLES_SEED),
           TABLES_SF, TABLES_SEED)
    shutil.copyfile(os.path.join(HERE, "query_mix.json"), os.path.join(d, "query_mix.json"))
    return d


def run_jvm(classpath, workload, seed, seconds, trace, data, run_dir, extra=()):
    """Run the harness in a fresh JVM; return its result dict."""
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    out = os.path.join(run_dir, "result.json")
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = tmp
    if workload == "query_mix":
        env["SPARK_GRAFT_CACHE_TABLES"] = "true"
    cmd = (["java", "-Xmx4g", "-Xss8m"] + JVM_OPENS +
           [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dderby.system.home={run_dir}",
            "-cp", classpath, "graft.perfbench.Harness",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--data", data, "--work", os.path.join(run_dir, "work"),
            "--out", out] + list(extra))
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"{workload} JVM exceeded {JVM_TIMEOUT_S} s (log: {log_path})")
    # the per-run outputs can be large; the result and trace stay
    shutil.rmtree(os.path.join(run_dir, "work"), ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"{workload} JVM exited with {proc.returncode} (log: {log_path})")
    with open(out) as f:
        return json.load(f)


def result_line(result, spec, trace):
    """The result line: the metrics BENCHMARK.json declares."""
    declared = spec["per_layer"] if trace else spec["end_to_end"]
    measured = result["per_layer"] if trace else result["end_to_end"]
    metrics, correct = {}, bool(result["correct"])
    for m in declared:
        v = measured.get(m["name"])
        if v is None and trace:
            v = 0.0  # a layer this workload does not run
        if v is None or not math.isfinite(v):
            sys.stderr.write(f"perfbench: metric {m['name']} missing or not finite\n")
            correct = False
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    return {"correct": correct, "attempted": int(result["attempted"]),
            "failed": int(result["failed"]), "metrics": metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no program sources (src/main/scala) in this checkout")
    t0 = time.time()
    classpath = build.build()
    data = prepare_inputs(args.workload, args.seed)
    sys.stderr.write(f"perfbench: build+inputs {time.time() - t0:.1f} s\n")
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-"
                           f"{'trace' if args.trace else 'plain'}")
    result = run_jvm(classpath, args.workload, args.seed, args.seconds, args.trace,
                     data, run_dir)
    for f in result.get("failures", []):
        sys.stderr.write(f"perfbench: check failed: {f}\n")
    print(json.dumps(result_line(result, spec, args.trace)))


if __name__ == "__main__":
    main()
