#!/usr/bin/env python3
"""One-scale-up DuckDB oracle rung (VERDICT-r13 ask #4): the same
typed compare as tools/oracle_check.py, run against the 10x corpus that
`graft.tools.Profile --sf1 --build-only` builds under target/scalebench/sf1,
writing CORRECTNESS_sf1.json in the CORRECTNESS_*.json row format.

Two honest deviations from the sf0.01/sf0.1 gate, both recorded
in-row rather than silently skipped:

- per-query ORACLE TIMEOUT (default 300 s): several oracles are
  deliberately exact-quadratic (all-pairs simhash joins) because
  exactness matters more than speed at gate scale; at 600k docs they
  are infeasible in DuckDB, so such a row records
  err="oracle_timeout: ..." with rows-only evidence (spark_rows).
- queries the Spark side failed to produce output for record their
  error verbatim.

Usage: oracle_sf1.py <sf1Dir> <verifyOutDir> [timeoutSec]
"""
import sys, os, json, glob, threading
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def main(sf_dir, out_dir, timeout_s=300):
    con = duckdb.connect()
    for t in TABLES:
        # Profile --sf1 writes Spark-style directory tables; the battery's
        # sf testdata uses flat files — accept either
        p = os.path.join(sf_dir, f"{t}.parquet")
        pat = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pat}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)

    results = {}
    names = sorted(d for d in os.listdir(out_dir)
                   if os.path.isdir(os.path.join(out_dir, d)))
    for name in names:
        row = {"rows_match": None, "schema_match": None,
               "hash_match": None, "spark_rows": None,
               "oracle_rows": None, "err": None}
        results[name] = row
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            row["err"] = "no spark output parquet"
            continue
        got = con.execute(
            f"SELECT * FROM read_parquet({files!r})").fetch_arrow_table()
        row["spark_rows"] = got.num_rows
        if name not in oracle:
            row["err"] = "no_oracle (rows-only by design)"
            continue

        # run the oracle with a watchdog: interrupt past the budget
        timer = threading.Timer(timeout_s, con.interrupt)
        timer.start()
        try:
            exp = con.execute(oracle[name]).fetch_arrow_table()
        except Exception as e:
            msg = str(e)
            if "INTERRUPT" in msg.upper():
                row["err"] = (f"oracle_timeout: exact-quadratic oracle "
                              f"SQL exceeds {timeout_s}s at 10x scale "
                              f"(gate-exactness tradeoff; hash-green at "
                              f"sf0.01+sf0.1)")
            else:
                row["err"] = f"oracle SQL failed: {msg[:300]}"
            continue
        finally:
            timer.cancel()

        row["oracle_rows"] = exp.num_rows
        g_cols, e_cols = sorted(got.column_names), sorted(exp.column_names)
        row["schema_match"] = (
            g_cols == e_cols and
            all(got.schema.field(c).type == exp.schema.field(c).type
                for c in g_cols))
        row["rows_match"] = got.num_rows == exp.num_rows
        if not (row["schema_match"] and row["rows_match"]):
            row["hash_match"] = False
            row["err"] = (f"columns/types differ: {g_cols} vs {e_cols}"
                          if not row["schema_match"] else
                          f"row count {got.num_rows} vs {exp.num_rows}")
            continue
        order = ", ".join(f'"{c}"' for c in g_cols)
        con.register("got_t", got)
        con.register("exp_t", exp)
        g_sorted = con.execute(
            f"SELECT {order} FROM got_t ORDER BY {order}").fetchall()
        e_sorted = con.execute(
            f"SELECT {order} FROM exp_t ORDER BY {order}").fetchall()
        row["hash_match"] = g_sorted == e_sorted
        if not row["hash_match"]:
            diffs = [i for i, (a, b) in enumerate(zip(g_sorted, e_sorted))
                     if a != b][:3]
            row["err"] = f"value mismatch at sorted rows {diffs}"

    ok = sum(1 for r in results.values() if r["hash_match"])
    to = sum(1 for r in results.values()
             if r["err"] and r["err"].startswith("oracle_timeout"))
    bad = sum(1 for r in results.values() if r["hash_match"] is False)
    print(f"{ok} hash-green, {to} oracle-timeout (explained), "
          f"{bad} MISMATCH, {len(results)} total")
    for n, r in sorted(results.items()):
        tag = ("PASS" if r["hash_match"] else
               "TIMEOUT" if r["err"] and
               r["err"].startswith("oracle_timeout") else
               "ROWS-ONLY" if r["err"] and
               r["err"].startswith("no_oracle") else "FAIL")
        print(f"[{tag}] {n}: spark={r['spark_rows']} "
              f"oracle={r['oracle_rows']} {r['err'] or ''}")
    with open("/root/repo/CORRECTNESS_sf1.json", "w") as f:
        json.dump(results, f, indent=1)
    return 1 if bad else 0


if __name__ == "__main__":
    t = int(sys.argv[3]) if len(sys.argv) > 3 else 300
    sys.exit(main(sys.argv[1], sys.argv[2], t))
