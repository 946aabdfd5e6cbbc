#!/usr/bin/env python3
"""Local replay of the driver's DuckDB oracle gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

For every entry in <verifyOutDir>/oracle_sql.json: run the SQL in DuckDB over
the parquet tables in <sfDir>, load the Spark result parquet, sort columns by
name and rows by their string repr, and compare (rows, schema-width, value
hash). Mirrors the driver's CORRECTNESS gate closely enough to catch
row/column/value drift before a round lands.
"""
import sys, os, json, hashlib

import duckdb
import pandas as pd


def canon_df(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize cell values: bytes -> hex, floats -> repr, None/NaN -> ''
    def norm(v):
        if v is None:
            return ''
        if isinstance(v, (bytes, bytearray)):
            return v.hex()
        if isinstance(v, float):
            if v != v:
                return ''
            return repr(round(v, 9))
        return str(v)
    out = df.map(norm)
    if len(out):
        out = out.sort_values(by=list(out.columns), kind='mergesort').reset_index(drop=True)
    return out


def df_hash(df: pd.DataFrame) -> str:
    h = hashlib.md5()
    for row in df.itertuples(index=False):
        h.update(('\x1f'.join(row) + '\x1e').encode('utf-8', 'replace'))
    return h.hexdigest()


def main():
    sf, out = sys.argv[1], sys.argv[2]
    sqls = json.load(open(os.path.join(out, 'oracle_sql.json')))
    con = duckdb.connect()
    for t in os.listdir(sf):
        if t.endswith('.parquet'):
            name = t[:-8]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{os.path.join(sf, t)}')")
    npass = nfail = nskip = 0
    for qdir in sorted(os.listdir(out)):
        qpath = os.path.join(out, qdir)
        if not os.path.isdir(qpath):
            continue
        files = [os.path.join(qpath, f) for f in os.listdir(qpath) if f.endswith('.parquet')]
        spark = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
        if qdir not in sqls:
            print(f"{qdir}: no_oracle (rows={len(spark)})")
            nskip += 1
            continue
        try:
            oracle = con.execute(sqls[qdir]).fetchdf()
        except Exception as e:
            print(f"{qdir}: ORACLE SQL ERROR: {e}")
            nfail += 1
            continue
        s, o = canon_df(spark), canon_df(oracle)
        rows = len(s) == len(o)
        cols = list(s.columns) == list(o.columns)
        hsh = rows and cols and df_hash(s) == df_hash(o)
        ok = rows and cols and hsh
        npass += ok
        nfail += (not ok)
        msg = 'PASS' if ok else f"FAIL rows={len(s)}/{len(o)} cols={list(s.columns)}/{list(o.columns)} hash={hsh}"
        print(f"{qdir}: {msg}")
    print(f"=== {npass} pass, {nfail} fail, {nskip} no_oracle ===")
    sys.exit(1 if nfail else 0)


if __name__ == '__main__':
    main()
