#!/usr/bin/env python3
"""Cross-check benchmark outputs against graft's DuckDB oracles.

    python3 perfbench/run.py --fingerprints --dump DIR
    python3 perfbench/tools/crosscheck.py DIR

`--dump` writes every batch query's output as parquet under DIR, with the
oracle SQL of each query that has one in DIR/oracle_sql.json. This script
runs each oracle in DuckDB over the benchmark's tables and compares the
values, sorted, column by column (floats bitwise). The fingerprint in
expected.tsv is the hash of the same output, so a query that matches here
has a checked fingerprint. Exit code 1 if any query mismatches.
"""
import json
import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

DATA = Path("perfbench/data")


def normalize(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]")
        elif s.dtype == object and len(s) and isinstance(s.iloc[0], (bytes, bytearray)):
            df[c] = s.apply(lambda b: b.hex())
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def same(a, b):
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    for c in a.columns:
        x, y = a[c], b[c]
        if pd.api.types.is_float_dtype(x) or pd.api.types.is_float_dtype(y):
            xn, yn = x.astype(float).to_numpy(), y.astype(float).to_numpy()
            eq = ((xn == yn) & (np.signbit(xn) == np.signbit(yn))) | (np.isnan(xn) & np.isnan(yn))
        else:
            eq = x.astype(str).to_numpy() == y.astype(str).to_numpy()
        if not eq.all():
            return False
    return True


def main(dump):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for p in sorted(DATA.glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
    oracle = json.loads((Path(dump) / "oracle_sql.json").read_text())
    bad = 0
    for name in sorted(oracle):
        got = pd.read_parquet(Path(dump) / name)
        exp = con.execute(oracle[name]).fetchdf()
        ok = same(normalize(got), normalize(exp))
        bad += not ok
        print(f"{name}: {'ok' if ok else 'MISMATCH'} ({len(got)} rows)")
    print(f"{len(oracle) - bad} match, {bad} mismatch, duckdb {duckdb.__version__}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
