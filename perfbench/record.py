#!/usr/bin/env python3
"""Record the expected row count and digest of every query_mix query, and
cross-check the results once against the queries' DuckDB twins.

    python3 perfbench/record.py

Runs query_mix twice in record mode (two seeds, so two query orders),
keeps a digest only where every execution agreed (the others are checked
by row count alone), compares each query's full result with its oracle
SQL from SparkEntry.oracleSql run by DuckDB over the same generated
tables, and writes the expectations into perfbench/query_mix.json.
Exits 1, writing nothing, if a result disagrees with its oracle.
"""
import json
import math
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(v):
    if isinstance(v, float):
        return 0.0 if v == 0 else float(f"{v:.9g}")
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if hasattr(v, "tolist"):
        return _norm(v.tolist())
    return v


def rows_of(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted((tuple(_norm(r[i]) for i in order) for r in cur.fetchall()), key=repr)
    return [cols[i] for i in order], rows


def close(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(close(x, y) for x, y in zip(a, b))
    return a == b


def oracle_check(tables, results):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    with open(os.path.join(results, "oracle_sql.json")) as f:
        oracles = json.load(f)
    failures = 0
    for q, sql in sorted(oracles.items()):
        ocols, orows = rows_of(con, sql)
        scols, srows = rows_of(con, f"SELECT * FROM '{results}/{q}/*.parquet'")
        ok = ocols == scols and len(orows) == len(srows) and all(
            close(a, b) for a, b in zip(orows, srows))
        failures += not ok
        print(f"{'PASS' if ok else 'FAIL'} {q} ({len(srows)} rows vs oracle {len(orows)})")
    return failures


def main():
    classpath = build.build()
    data = run.prepare_inputs("query_mix", 0)
    runs = []
    for seed in (1, 2):
        run_dir = os.path.join(run.WORK, "record", str(seed))
        rec = os.path.join(run_dir, "record.json")
        run.run_jvm(classpath, "query_mix", seed, 1, 0, data, run_dir, ["--record", rec])
        with open(rec) as f:
            runs.append(json.load(f))
    if oracle_check(os.path.join(data, "tables"),
                    os.path.join(run.WORK, "record", "1", "results")):
        print("oracle cross-check failed; nothing written")
        return 1
    expected = {}
    for q, first in runs[0].items():
        e = {"rows": first["rows"]}
        digests = {r[q].get("digest") for r in runs}
        if len(digests) == 1 and None not in digests:
            e["digest"] = first["digest"]
        expected[q] = e
    path = os.path.join(HERE, "query_mix.json")
    with open(path) as f:
        spec = json.load(f)
    spec["expected"] = {q: expected[q] for q in spec["queries"]}
    with open(path, "w") as f:
        json.dump(spec, f, indent=1)
        f.write("\n")
    print(f"wrote {len(expected)} expectations "
          f"({sum('digest' not in e for e in expected.values())} rows-only) to {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
