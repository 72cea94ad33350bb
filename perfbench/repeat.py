#!/usr/bin/env python3
"""Run the benchmark once per seed and report each end-to-end metric's
median and spread (interquartile distance over median, from
statistics.quantiles(n=4)) against its bound.

    python3 perfbench/repeat.py <out_dir> <workload> <first_seed> <runs> [--trace 1]

Writes each run's last stdout line to <out_dir>/<workload>-<seed>.json,
the input compare.py reads. Exits 1 if a run fails its checks or a
spread exceeds its bound.
"""
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv):
    if len(argv) not in (5, 7):
        sys.stderr.write(__doc__)
        return 2
    out_dir, workload, first, runs = argv[1], argv[2], int(argv[3]), int(argv[4])
    trace = argv[6] if len(argv) == 7 else "0"
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    os.makedirs(out_dir, exist_ok=True)
    values, ok = {}, True
    for seed in range(first, first + runs):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                            "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                            "--trace", trace], cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            print(f"seed {seed}: exit {r.returncode}, no result")
            ok = False
            continue
        line = json.loads(lines[-1])
        with open(os.path.join(out_dir, f"{workload}-{seed}.json"), "w") as f:
            f.write(lines[-1] + "\n")
        ok &= line["correct"] and line["failed"] == 0
        for k, v in line["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: correct={line['correct']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in line["metrics"].items()), flush=True)
    if trace != "0":
        return 0 if ok else 1
    for m in spec["end_to_end"]:
        vs = values.get(m["name"], [])
        if len(vs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        flag = "" if spread <= m["bound"] / 3 else (" > bound/3" if spread <= m["bound"] else " > BOUND")
        if spread > m["bound"]:
            ok = False
        print(f"{m['name']:<18} median {med:.4g} {m['unit']:<5} spread {spread:.3f} "
              f"(bound {m['bound']}){flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv))
