#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle correctness check.

Usage: python3 tools/compare.py <sfDir> <verifyOutDir>

For each query parquet in <verifyOutDir>, runs the matching SQL from
oracle_sql.json in DuckDB (tables = bare names over <sfDir> parquet) and
compares schema-sorted values row by row. Exits 1 when any query is not a
pass (a FAIL line: missing parquet, error, schema/row-count/value mismatch).
"""
import sys, json, glob, os
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    results = {}
    for name, sql in sorted(oracle.items()):
        pdir = f"{out_dir}/{name}"
        if not os.path.isdir(pdir):
            results[name] = "MISSING_PARQUET"
            continue
        try:
            mine = con.sql(f"SELECT * FROM '{pdir}/*.parquet'").fetchall()
            cols_mine = [d[0] for d in con.sql(f"SELECT * FROM '{pdir}/*.parquet' LIMIT 0").description]
            ref = con.sql(sql).fetchall()
            cols_ref = [d[0] for d in con.sql(f"SELECT * FROM ({sql}) LIMIT 0").description]
        except Exception as e:
            results[name] = f"ERROR: {str(e)[:200]}"
            continue
        if sorted(cols_mine) != sorted(cols_ref):
            results[name] = f"SCHEMA_MISMATCH mine={sorted(cols_mine)} ref={sorted(cols_ref)}"
            continue
        # sort columns by name (driver behavior), compare values
        mi = [cols_mine.index(c) for c in sorted(cols_mine)]
        ri = [cols_ref.index(c) for c in sorted(cols_ref)]
        m = [tuple(str(r[i]) for i in mi) for r in mine]
        f = [tuple(str(r[i]) for i in ri) for r in ref]
        if len(m) != len(f):
            results[name] = f"ROWCOUNT {len(m)} vs {len(f)}"
            continue
        if m == f:
            results[name] = f"OK rows={len(m)} (ordered)"
        elif sorted(m) == sorted(f):
            results[name] = f"OK rows={len(m)} (unordered only!)"
        else:
            diffs = [(a, b) for a, b in zip(sorted(m), sorted(f)) if a != b][:3]
            results[name] = f"VALUE_MISMATCH rows={len(m)} first_diffs={diffs}"
    ok = sum(1 for v in results.values() if v.startswith("OK"))
    for k, v in sorted(results.items()):
        print(f"{'PASS' if v.startswith('OK') else 'FAIL':4} {k:30} {v}")
    print(f"\n{ok}/{len(results)} pass")
    return ok == len(results)

if __name__ == "__main__":
    sys.exit(0 if main(sys.argv[1], sys.argv[2]) else 1)
