#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: for each query result
parquet written by graft.Verify, run the corresponding oracle SQL in DuckDB
over the same sf tables and compare (rows sorted, columns sorted by name,
values hashed). Every oracle_sql.json key without a result dir counts
as a failure. Usage: check_oracle.py <sfDir> <verifyOutDir>
"""
import sys, json, glob, os
import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    fails = 0
    for name in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d):
            continue
        spark_df = pd.concat([pd.read_parquet(f) for f in glob.glob(f"{d}/*.parquet")],
                             ignore_index=True)
        if name not in oracle:
            print(f"  {name}: rows-only ({len(spark_df)} rows) "
                  + ("OK" if len(spark_df) > 0 else "EMPTY!"))
            continue
        duck_df = con.sql(oracle[name]).df()
        a, b = canon(spark_df), canon(duck_df)
        status = "OK"
        if list(a.columns) != list(b.columns):
            status = f"SCHEMA MISMATCH spark={list(a.columns)} duck={list(b.columns)}"
        elif len(a) != len(b):
            status = f"ROWCOUNT MISMATCH spark={len(a)} duck={len(b)}"
        else:
            # dtype-KIND gate first: the driver hashes serialized values, so an
            # int-vs-object (DuckDB HUGEINT) or int-vs-float column can
            # hash-mismatch driver-side even when astype-coerced values agree
            # (exactly how q132/r9 passed locally but failed the gate).
            # int32-vs-int64 is proven-safe (rank columns, green for 9 rounds),
            # so compare pandas dtype kind, not exact width; signed/unsigned
            # ('i'/'u') are the same safe case — coerced values still agree —
            # as is bool-vs-int ('b'/'i'), so fold those kinds together.
            def kind(s):
                k = s.dtype.kind
                return 'i' if k in ('i', 'u', 'b') else k
            dt_bad = [(c, str(a[c].dtype), str(b[c].dtype)) for c in a.columns
                      if kind(a[c]) != kind(b[c])]
            if dt_bad:
                status = f"DTYPE MISMATCH {dt_bad}"
            for c in (a.columns if not dt_bad else []):
                av, bv = a[c], b[c]
                try:
                    if not av.equals(bv.astype(av.dtype)):
                        neq = (av != bv.astype(av.dtype))
                        status = f"VALUE MISMATCH col={c} n={int(neq.sum())} e.g. {av[neq].head(3).tolist()} vs {bv[neq].head(3).tolist()}"
                        break
                except Exception as e:
                    status = f"COMPARE ERROR col={c}: {e}"
                    break
        if status != "OK":
            fails += 1
        print(f"  {name}: {status}")
    # an oracled query that threw leaves no result dir (Verify deletes
    # each dir before running its query): that is a failure, not a skip
    missing = sorted(k for k in oracle if not os.path.isdir(os.path.join(out_dir, k)))
    for name in missing:
        print(f"  {name}: MISSING result dir")
    print(f"{len(missing)} missing result dirs")
    fails += len(missing)
    print(("ALL OK" if fails == 0 else f"{fails} FAILURES"))
    return fails

if __name__ == "__main__":
    sys.exit(1 if main(sys.argv[1], sys.argv[2]) else 0)
