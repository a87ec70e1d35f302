#!/usr/bin/env python3
"""Strict pandas-based checker mimicking the driver's comparator more
closely than tools/check.py: reads the Spark result with pandas/pyarrow,
runs the oracle in DuckDB via .df(), sorts columns by name, sorts rows
by all columns (crashes on ndarray columns exactly like the driver),
and compares cells at FULL float precision (repr), not 12 sig digits.
The oracle runs on one DuckDB thread: at full precision a parallel float
sum differs from run to run, so two runs over one dump would not agree.

Usage: python3 tools/strictcheck.py <sfDir> <verifyOutDir> [query ...]
"""
import sys, os, json, glob, math

import pandas as pd
import numpy as np

from check import connect


def cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float) and math.isnan(v):
        return "NULL"
    if isinstance(v, (np.floating,)):
        return repr(float(v))
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (np.integer,)):
        return str(int(v))
    if isinstance(v, (np.bool_, bool)):
        return str(bool(v))
    return str(v)


def frame(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = connect(sf_dir)
    con.execute("SET threads TO 1")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d) or (only and name not in only):
            continue
        if name not in oracles:
            continue
        try:
            sdf = pd.concat([pd.read_parquet(f) for f in sorted(glob.glob(f"{d}/*.parquet"))],
                            ignore_index=True)
            odf = con.execute(oracles[name]).df()
            sdf, odf = frame(sdf), frame(odf)
        except Exception as e:
            print(f"HARNESS-ERR {name}: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if [c.lower() for c in sdf.columns] != [c.lower() for c in odf.columns]:
            print(f"FAIL {name}: cols spark={list(sdf.columns)} oracle={list(odf.columns)}")
            n_fail += 1
            continue
        if len(sdf) != len(odf):
            print(f"FAIL {name}: rows {len(sdf)} vs {len(odf)}")
            n_fail += 1
            continue
        bad = []
        for c in sdf.columns:
            sv = [cell(v) for v in sdf[c]]
            ov = [cell(v) for v in odf[c]]
            diffs = [(i, a, b) for i, (a, b) in enumerate(zip(sv, ov)) if a != b]
            if diffs:
                bad.append((c, diffs))
        if bad:
            print(f"FAIL {name}: {len(bad)} column(s) differ")
            for c, diffs in bad:
                i, a, b = diffs[0]
                print(f"    col {c}: {len(diffs)} diffs; e.g. row {i}: spark={a} oracle={b}"
                      f"  [dtype spark={sdf[c].dtype} oracle={odf[c].dtype}]")
            n_fail += 1
        else:
            print(f"PASS {name}")
            n_pass += 1
    print(f"\n{n_pass} strict-pass, {n_fail} fail")


if __name__ == "__main__":
    main()
