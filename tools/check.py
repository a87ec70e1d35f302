#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name> parquet (Spark result), runs the matching
oracle SQL from oracle_sql.json in DuckDB over the sfDir parquet tables,
normalizes (columns sorted by name, timestamps -> ISO-8601 UTC, floats ->
12 significant digits), and compares sorted row multisets.
"""
import sys, os, json, math, datetime

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm_val(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Inf" if v > 0 else "-Inf"
        if v == 0:
            return "0"
        return f"{v:.12g}"
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%dT%H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_val(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{norm_val(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def normalize(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted("|".join(norm_val(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], out


def connect(sf_dir):
    """DuckDB with every fixture table under sf_dir as a view."""
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = connect(sf_dir)
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = n_rowsonly = 0
    for name in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d):
            continue
        try:
            res = con.execute(f"SELECT * FROM '{d}/*.parquet'")
            spark_cols = [c[0] for c in res.description]
            spark_rows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: cannot read spark result: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            status = "ROWS-ONLY" if len(spark_rows) > 0 else "ROWS-ONLY-EMPTY!"
            print(f"{status} {name}: {len(spark_rows)} rows")
            n_rowsonly += 1
            continue
        try:
            ores = con.execute(oracles[name])
            o_cols = [c[0] for c in ores.description]
            o_rows = ores.fetchall()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        sc, s_norm = normalize(spark_cols, spark_rows)
        oc, o_norm = normalize(o_cols, o_rows)
        if [c.lower() for c in sc] != [c.lower() for c in oc]:
            print(f"FAIL {name}: column mismatch spark={sc} oracle={oc}")
            n_fail += 1
        elif s_norm != o_norm:
            diff = [(a, b) for a, b in zip(s_norm, o_norm) if a != b]
            print(f"FAIL {name}: {len(spark_rows)} vs {len(o_rows)} rows; first diffs:")
            for a, b in diff[:3]:
                print(f"    spark  {a[:200]}")
                print(f"    oracle {b[:200]}")
            if len(s_norm) != len(o_norm):
                print(f"    (row count differs)")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(spark_rows)} rows")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
