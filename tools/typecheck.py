#!/usr/bin/env python3
"""Oracle type-parity gate: the driver's hasher is type-aware (arrow
encodings), so a DuckDB oracle emitting HUGEINT/DECIMAL where Spark emits
int64 hash-fails even when every value is identical (DuckDB's SUM(BIGINT)
returns HUGEINT). This script DESCRIBEs each oracle in DuckDB and compares
canonicalized column types against the Spark DataFrame schema.

Usage: python3 tools/typecheck.py <inputJson>

inputJson: {"sf_dir": "...", "oracles": {name: sql},
            "schemas": {name: {col: sparkSimpleString}}}
Exit 0 iff every oracle's (name -> canonical type) map equals Spark's.
"""
import sys, json, re
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon_duck(t):
    t = t.strip().upper()
    if t.endswith("[]"):
        return "array<" + canon_duck(t[:-2]) + ">"
    if t.startswith("DECIMAL"):
        return t.lower().replace(" ", "")
    if t.startswith("STRUCT"):
        return "struct"
    if t.startswith("MAP"):
        return "map"
    return {
        "BIGINT": "bigint", "INT8": "bigint", "LONG": "bigint",
        "INTEGER": "int", "INT4": "int", "INT": "int",
        "SMALLINT": "smallint", "INT2": "smallint",
        "TINYINT": "tinyint", "INT1": "tinyint",
        "HUGEINT": "hugeint",  # never matches a Spark type -> always fails
        "UBIGINT": "uhugeint", "UINTEGER": "uint",
        "DOUBLE": "double", "FLOAT8": "double",
        "FLOAT": "float", "REAL": "float", "FLOAT4": "float",
        "VARCHAR": "string", "TEXT": "string", "STRING": "string",
        "BOOLEAN": "boolean", "BOOL": "boolean",
        "DATE": "date", "BLOB": "binary",
    }.get(t, "timestamp" if t.startswith("TIMESTAMP") else t.lower())

def canon_spark(t):
    t = t.strip().lower()
    m = re.match(r"array<(.*)>$", t)
    if m:
        return "array<" + canon_spark(m.group(1)) + ">"
    if t.startswith("struct"):
        return "struct"
    if t.startswith("map"):
        return "map"
    if t.startswith("decimal"):
        return t.replace(" ", "")
    if t.startswith("timestamp"):
        return "timestamp"
    return t

def main(path):
    spec = json.load(open(path))
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{spec['sf_dir']}/{t}.parquet'")
    failures = []
    n = 0
    for name, sql in sorted(spec["oracles"].items()):
        spark_schema = spec["schemas"].get(name)
        if spark_schema is None:
            failures.append(f"{name}: no Spark schema recorded")
            continue
        n += 1
        try:
            desc = con.sql(f"DESCRIBE SELECT * FROM ({sql}) LIMIT 0").fetchall()
        except Exception as e:
            failures.append(f"{name}: oracle DESCRIBE failed: {str(e)[:200]}")
            continue
        duck = {r[0]: canon_duck(r[1]) for r in desc}
        spark = {c: canon_spark(t) for c, t in spark_schema.items()}
        if set(duck) != set(spark):
            failures.append(f"{name}: column sets differ "
                            f"duck={sorted(duck)} spark={sorted(spark)}")
            continue
        diffs = [f"{c}: duck={duck[c]} spark={spark[c]}"
                 for c in sorted(duck) if duck[c] != spark[c]]
        if diffs:
            failures.append(f"{name}: " + "; ".join(diffs))
    for f in failures:
        print(f"FAIL {f}")
    print(f"{n - len(failures)}/{n} type-parity pass")
    return 1 if failures else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
