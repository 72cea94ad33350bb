#!/usr/bin/env python3
"""One-command oracle gate for a change: same answers as the parent.

Usage: python3 scripts/verify_gate.py <parent-rev> <sfDir> [<sfDir> ...]
           [--workdir DIR]

For each scale-factor directory it runs graft.Verify twice, once on a
copy of <parent-rev> (exported with `git archive`, so the repository's
.git is never touched) and once on the working tree, then compares the
two dumps query by query:

  - a query FAILS when its output directory is missing on either side
    (Verify prints `[verify] <name> failed` and still exits 0, so the
    directory is the signal; a query that fails on both sides is caught
    from Verify's stderr);
  - a query DIFFERS when the schemas (column names and types) or the
    row counts differ, or when DuckDB `EXCEPT ALL` is non-empty either
    way.

Then it runs scripts/oracle_check.py on the working tree's dump for
each scale factor. It prints one line per query that differs or fails
(and every oracle FAIL line), then a summary, and exits 1 if anything
differs or fails, 0 otherwise.

Verify runs inherit the environment (SPARK_GRAFT_CPUS, SPARK_DRIVER_MEM,
the sbt offline settings). Wall time, sf0.001 + sf0.01 on 4 cores
(SPARK_GRAFT_CPUS=4, SPARK_DRIVER_MEM=6g), the parent's compile
included: 1,488 s (~25 min).
"""
import argparse
import os
import re
import shutil
import subprocess
import sys
import tempfile
import time

import duckdb
import pyarrow.dataset as ds

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FAILED_LINE = re.compile(r"\[verify\] (\S+) failed")


def export_rev(rev, dest):
    """Materialize `rev`'s committed files under `dest`."""
    os.makedirs(dest)
    archive = subprocess.run(["git", "-C", REPO, "archive", rev],
                             check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run_verify(tree, sf_dir, out_dir):
    """graft.Verify in `tree` into a fresh `out_dir`; returns the names
    Verify reported as failed."""
    shutil.rmtree(out_dir, ignore_errors=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"runMain graft.Verify {sf_dir} {out_dir}"]
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    failed = set(FAILED_LINE.findall(proc.stdout + proc.stderr))
    if proc.returncode != 0 or not os.path.exists(
            os.path.join(out_dir, "oracle_sql.json")):
        tail = (proc.stdout + proc.stderr)[-3000:]
        raise SystemExit(f"Verify did not complete in {tree} "
                         f"(exit {proc.returncode}):\n{tail}")
    return failed


def query_dirs(out_dir):
    return {d for d in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, d))}


def table_of(path):
    """(schema as [(name, type)], row count, parquet glob or None)."""
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    if not files:
        return [], 0, None
    dataset = ds.dataset(path, format="parquet")
    schema = [(f.name, str(f.type)) for f in dataset.schema]
    return schema, dataset.count_rows(), os.path.join(path, "*.parquet")


def except_all(con, a, b):
    """Rows of `a` missing from `b`, counted as a multiset."""
    try:
        return con.execute(
            f"SELECT count(*) FROM (SELECT * FROM read_parquet('{a}') "
            f"EXCEPT ALL SELECT * FROM read_parquet('{b}'))").fetchone()[0]
    except duckdb.Error:
        # a column type EXCEPT ALL cannot hash: compare rendered rows
        def rows(p):
            return sorted(map(repr, con.execute(
                f"SELECT * FROM read_parquet('{p}')").fetchall()))
        ra, rb = rows(a), rows(b)
        missing, j = 0, 0
        for r in ra:
            while j < len(rb) and rb[j] < r:
                j += 1
            if j < len(rb) and rb[j] == r:
                j += 1
            else:
                missing += 1
        return missing


def compare(con, name, base_dir, head_dir):
    """A problem description, or None when the outputs are identical."""
    bs, bn, bglob = table_of(os.path.join(base_dir, name))
    hs, hn, hglob = table_of(os.path.join(head_dir, name))
    if bs != hs:
        return f"schema differs: parent={bs} change={hs}"
    if bn != hn:
        return f"row count differs: parent={bn} change={hn}"
    if bglob is None or bn == 0:
        return None
    lost, gained = except_all(con, bglob, hglob), except_all(con, hglob, bglob)
    if lost or gained:
        return f"rows differ: {lost} only in parent, {gained} only in change"
    return None


def oracle_check(sf_dir, out_dir):
    """(fail lines, summary line) of oracle_check.py on `out_dir`."""
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "oracle_check.py"),
         sf_dir, out_dir], capture_output=True, text=True)
    lines = proc.stdout.splitlines()
    fails = [l for l in lines if l.startswith("FAIL")]
    summary = next((l for l in reversed(lines) if " pass, " in l),
                   f"oracle_check exited {proc.returncode} without a summary")
    if proc.returncode != 0 and not fails:
        fails = [f"FAIL oracle_check: {summary}"]
    return fails, summary


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent_rev")
    ap.add_argument("sf_dirs", nargs="+")
    ap.add_argument("--workdir", help="scratch directory (default: a new "
                    "temporary directory, removed afterwards)")
    args = ap.parse_args()
    t0 = time.time()
    workdir = args.workdir or tempfile.mkdtemp(prefix="verify_gate_")
    parent_tree = os.path.join(workdir, "parent")
    shutil.rmtree(parent_tree, ignore_errors=True)
    export_rev(args.parent_rev, parent_tree)
    con = duckdb.connect()
    problems = 0
    for sf_dir in args.sf_dirs:
        sf = os.path.basename(os.path.normpath(sf_dir))
        base_out = os.path.join(workdir, f"parent_{sf}")
        head_out = os.path.join(workdir, f"change_{sf}")
        base_failed = run_verify(parent_tree, sf_dir, base_out)
        head_failed = run_verify(REPO, sf_dir, head_out)
        base_q, head_q = query_dirs(base_out), query_dirs(head_out)
        names = base_q | head_q | base_failed | head_failed
        n_same = 0
        for name in sorted(names):
            if name not in base_q or name not in head_q:
                side = ("both sides" if name not in base_q | head_q
                        else "parent" if name not in base_q else "change")
                print(f"FAIL {sf} {name}: no output on {side}")
                problems += 1
                continue
            diff = compare(con, name, base_out, head_out)
            if diff:
                print(f"DIFF {sf} {name}: {diff}")
                problems += 1
            else:
                n_same += 1
        print(f"{sf}: {n_same}/{len(names)} queries identical")
        fails, summary = oracle_check(sf_dir, head_out)
        for line in fails:
            print(f"ORACLE {sf} {line}")
        problems += len(fails)
        print(f"{sf}: oracle_check {summary}")
    if not args.workdir:
        shutil.rmtree(workdir, ignore_errors=True)
    print(f"verify_gate: {'FAIL' if problems else 'PASS'} "
          f"({problems} problems, {time.time() - t0:.0f} s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
