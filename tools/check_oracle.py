#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate: for each query in
outDir, run its oracle SQL in DuckDB over the same sf dir's parquet tables
and compare (rows, schema-insensitive column-name-sorted values).

Usage: check_oracle.py <sfDir> <outDir> [query ...]
With no query names every oracle_sql.json entry is checked; with names,
exactly those (a named query without Spark output or oracle still FAILs)."""
import sys, json, glob
import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def main(sf_dir, out_dir, names=()):
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    failures = 0
    for name in sorted(names or oracles):
        if name not in oracles:
            print(f"FAIL {name}: no oracle"); failures += 1; continue
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); failures += 1; continue
        try:
            exp = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle error {e}"); failures += 1; continue
        # Read the Spark side with pandas (like the driver does), NOT DuckDB:
        # DuckDB normalizes timestamp[ns] parquet, pandas does not — reading
        # via DuckDB masked a year-2999 datetime64[ns] overflow in round 1.
        import pandas as _pd
        act = _pd.concat([_pd.read_parquet(f) for f in sorted(files)],
                         ignore_index=True)
        acols, ecols = sorted(act.columns), sorted(exp.columns)
        if acols != ecols:
            print(f"FAIL {name}: cols {acols} vs {ecols}"); failures += 1; continue
        a = act[acols].sort_values(acols, kind="mergesort").reset_index(drop=True)
        e = exp[ecols].sort_values(ecols, kind="mergesort").reset_index(drop=True)
        if len(a) != len(e):
            print(f"FAIL {name}: rows {len(a)} vs {len(e)}"); failures += 1; continue
        # normalize dtypes for compare (timestamps ns vs us etc.)
        import pandas as pd
        a = a.astype(str); e = e.astype(str)
        if not a.equals(e):
            diff = (a != e).any(axis=1)
            print(f"FAIL {name}: {diff.sum()} differing rows of {len(a)}")
            mism = diff[diff].index[:3]
            for i in mism:
                for c in acols:
                    if a.loc[i, c] != e.loc[i, c]:
                        print(f"   row{i} {c}: spark={a.loc[i,c]!r} oracle={e.loc[i,c]!r}")
            failures += 1
            continue
        print(f"PASS {name}: {len(a)} rows")
    sys.exit(1 if failures else 0)

if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], sys.argv[3:])
