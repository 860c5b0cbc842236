#!/usr/bin/env python3
"""Recomputes perfbench/goldens.json and cross-checks it with DuckDB.

Runs every benchmark query once through `graft.SparkEntry.queries` on the
benchmark's fixed tables (perfbench.Main --golden-out), then runs each
query's `SparkEntry.oracleSql` in DuckDB over the same parquet files and
compares row count, column names and every value (floats to 1e-9 relative).
Only queries that agree get a golden: (row count, order-independent digest
of the Spark rows, as perfbench/src/perfbench/Canon.scala computes it).

Usage (from the checkout root): python3 perfbench/make_goldens.py
Needs the duckdb Python package; the benchmark itself does not.
"""
import json
import math
import os
import shutil
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import build  # noqa: E402
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same(a[k], b[k]) for k in a)
    return a == b


def compare(con, got_dir, sql):
    import glob
    files = glob.glob(os.path.join(got_dir, "*.parquet"))
    got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetch_arrow_table()
    exp = con.execute(sql).fetch_arrow_table()
    cols = sorted(got.column_names)
    if cols != sorted(exp.column_names):
        return f"columns {cols} vs {sorted(exp.column_names)}"
    if got.num_rows != exp.num_rows:
        return f"rows {got.num_rows} vs {exp.num_rows}"
    key = lambda r: tuple((str(type(r[c])), str(r[c])) for c in cols)
    g = sorted(got.select(cols).to_pylist(), key=key)
    e = sorted(exp.select(cols).to_pylist(), key=key)
    for i, (x, y) in enumerate(zip(g, e)):
        for c in cols:
            if not same(x[c], y[c]):
                return f"row {i} col {c}: spark={x[c]!r} duckdb={y[c]!r}"
    return None


def main():
    import duckdb
    os.makedirs(run.OUT, exist_ok=True)
    classes, jars = build.build()
    data = run.tables_dir()
    work = os.path.join(run.OUT, "work", "goldens")
    out = os.path.join(work, "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = (run.JAVA + [f"-Djava.io.tmpdir={work}"]
           + [x for p in run.ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{os.path.join(jars, '*')}", "perfbench.Main",
              "--golden-out", out, "--data", data, "--work", work])
    rc, _ = run.run_jvm(cmd, os.path.join(work, "jvm.log"))
    if rc != 0:
        sys.exit(f"golden run failed ({rc}); see {work}/jvm.log")
    digests = json.load(open(os.path.join(out, "digests.json")))
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    goldens, bad = {}, {}
    for n in sorted(digests):
        if n not in oracle:
            bad[n] = "no oracle SQL"
            continue
        err = compare(con, os.path.join(out, n), oracle[n])
        if err:
            bad[n] = err
        else:
            goldens[n] = digests[n]
        print(f"{'PASS' if not err else 'FAIL'} {n}: {err or digests[n]}")
    with open(os.path.join(BENCH, "goldens.json"), "w") as f:
        json.dump({"tables": {"seed": run.TABLE_SEED, "sf": run.TABLE_SF},
                   "goldens": dict(sorted(goldens.items()))}, f, indent=1)
        f.write("\n")
    shutil.rmtree(work, ignore_errors=True)
    if bad:
        sys.exit(f"{len(bad)} queries disagree with DuckDB: {sorted(bad)}")


if __name__ == "__main__":
    main()
