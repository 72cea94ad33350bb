#!/usr/bin/env python3
"""Compare two result sets of the benchmark, parent against change.

    python3 perfbench/compare.py <parent_dir> <change_dir>

A result set is a directory of <workload>-<seed>.json files, each holding
the last stdout line of one `perfbench/run.py --trace 0` run (repeat.py
writes them). Runs of the two sets with the same workload and seed form a
pair; run the pairs alternating which side goes first.

One row per workload x end-to-end metric: each side's median and
quartiles, the share of pairs the change won (ties count for neither) and
a verdict:
  improved    the change won at least 9/10 of the pairs and the medians
              differ, in the better direction, by more than the parent's
              own spread (its interquartile distance)
  worse       the change's median is worse than the parent's by more than
              the metric's bound from BENCHMARK.json
  unresolved  the run-to-run spread of either side (interquartile distance
              over median) is wider than the bound, unless every run of the
              change reads better than every run of the parent
  unchanged   otherwise
Exits 1 when any row is worse.
"""
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(result_dir):
    """{(workload, seed): {metric: value}} from a result directory."""
    runs = {}
    for name in os.listdir(result_dir):
        if not name.endswith(".json"):
            continue
        workload, _, seed = name[:-len(".json")].rpartition("-")
        with open(os.path.join(result_dir, name)) as f:
            line = json.load(f)
        runs[(workload, seed)] = {k: v["value"] for k, v in line["metrics"].items()}
    return runs


def quartiles(values):
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def verdict(parent, change, pairs, better, bound):
    """Verdict for one metric. `pairs` are (parent, change) values of the
    same seed; `better` is "lower" or "higher"."""
    sign = 1.0 if better == "lower" else -1.0
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    wins = sum(1 for p, c in pairs if sign * (p - c) > 0)
    won = wins / len(pairs) if pairs else 0.0
    spread = max((p3 - p1) / abs(pm) if pm else 0.0, (c3 - c1) / abs(cm) if cm else 0.0)
    gain = sign * (pm - cm)
    if pairs and won >= 0.9 and gain > (p3 - p1):
        return "improved", won
    if spread > bound:
        every_run_better = all(sign * (p - c) > 0 for p in parent for c in change)
        return ("unchanged" if every_run_better else "unresolved"), won
    if -gain > bound * abs(pm):
        return "worse", won
    return "unchanged", won


def compare(parent_runs, change_runs, spec):
    rows = []
    workloads = sorted({w for w, _ in parent_runs} | {w for w, _ in change_runs})
    for w in workloads:
        seeds = sorted({s for x, s in parent_runs if x == w} & {s for x, s in change_runs if x == w})
        for m in spec["end_to_end"]:
            name = m["name"]
            parent = [parent_runs[(w, s)][name] for s in sorted(s for x, s in parent_runs if x == w)]
            change = [change_runs[(w, s)][name] for s in sorted(s for x, s in change_runs if x == w)]
            if not parent or not change:
                continue
            pairs = [(parent_runs[(w, s)][name], change_runs[(w, s)][name]) for s in seeds]
            v, won = verdict(parent, change, pairs, m["better"], m["bound"])
            rows.append((w, name, m["unit"], quartiles(parent), quartiles(change),
                         won, len(pairs), v))
    return rows


def main(argv):
    if len(argv) != 3:
        sys.stderr.write(__doc__)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    rows = compare(load(argv[1]), load(argv[2]), spec)
    print(f"{'workload':<12} {'metric':<18} {'unit':<5} "
          f"{'parent q1/median/q3':<32} {'change q1/median/q3':<32} {'won':>9}  verdict")
    for w, name, unit, pq, cq, won, n, v in rows:
        fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
        print(f"{w:<12} {name:<18} {unit:<5} {fmt(pq):<32} {fmt(cq):<32} "
              f"{won:>5.2f} n={n:<2} {v}")
    return 1 if any(r[-1] == "worse" for r in rows) else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
