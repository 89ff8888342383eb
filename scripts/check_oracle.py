#!/usr/bin/env python3
"""Dev-only replica of the driver's DuckDB-oracle correctness gate.

Usage: python3 scripts/check_oracle.py <sfDir> <outDir>
  1. (caller runs)  sbt "runMain graft.Verify <sfDir> <outDir>"
  2. this script:   for each <outDir>/<name>/ parquet + oracle_sql.json entry,
                    run the SQL in DuckDB over <sfDir>/*.parquet and compare.

Subset run: sbt "runMain graft.Verify <sfDir> <outDir> s09_,s11_,e01_" runs
only the queries whose names start with one of the comma-separated
prefixes, and writes an oracle_sql.json that names only them, so this
script reports just that subset.

NOT part of the shipped library (the Scala engine never imports this) —
it exists so oracle mismatches surface locally before the driver runs.
"""
import json, math, sys, glob, os
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    # decimals / hugeint -> int when integral
    try:
        import decimal
        if isinstance(v, decimal.Decimal):
            return int(v) if v == int(v) else round(float(v), 9)
    except Exception:
        pass
    return v

def rows_of(rel_rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [tuple(canon(r[i]) for i in order) for r in rel_rows]

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(oracle):
        sql = oracle[name]
        res_dir = f"{out_dir}/{name}"
        if not os.path.isdir(res_dir):
            print(f"FAIL {name}: no spark result dir"); n_fail += 1; continue
        try:
            spark_rel = con.sql(f"SELECT * FROM '{res_dir}/*.parquet'")
            spark_cols = [c.lower() for c in spark_rel.columns]
            spark_rows = rows_of(spark_rel.fetchall(), spark_cols)
            duck_rel = con.sql(sql)
            duck_cols = [c.lower() for c in duck_rel.columns]
            duck_rows = rows_of(duck_rel.fetchall(), duck_cols)
        except Exception as e:
            print(f"FAIL {name}: {e}"); n_fail += 1; continue
        if sorted(spark_cols) != sorted(duck_cols):
            print(f"FAIL {name}: cols {sorted(spark_cols)} vs {sorted(duck_cols)}")
            n_fail += 1; continue
        if len(spark_rows) != len(duck_rows):
            print(f"FAIL {name}: rows {len(spark_rows)} vs {len(duck_rows)}")
            n_fail += 1; continue
        bad = [(i, a, b) for i, (a, b) in enumerate(zip(spark_rows, duck_rows)) if a != b]
        if bad:
            i, a, b = bad[0]
            print(f"FAIL {name}: {len(bad)} mismatched rows; first at {i}:\n  spark={a}\n  duck ={b}")
            n_fail += 1; continue
        print(f"PASS {name} ({len(spark_rows)} rows)")
        n_pass += 1
    # queries without oracle: rows-only presence check
    for d in sorted(glob.glob(f"{out_dir}/*/")):
        name = os.path.basename(d.rstrip("/"))
        if name not in oracle:
            n = con.sql(f"SELECT count(*) FROM '{d}/*.parquet'").fetchone()[0]
            print(f"INFO {name}: no oracle, {n} rows")
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
