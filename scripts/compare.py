#!/usr/bin/env python3
"""Local emulation of the driver's correctness gate.

Usage: python3 scripts/compare.py <verifyOutDir> <sfDir>

Loads each <verifyOutDir>/<name>/ parquet (Spark result), runs the matching
oracle SQL from oracle_sql.json in DuckDB against the parquet tables in
<sfDir>, and compares (columns sorted by name, rows sorted) for exact match.
"""
import json
import os
import sys

import duckdb
import pandas as pd


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def main() -> int:
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)

    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')")

    # a filtered graft.Verify run dumps only a subset; its selected.txt
    # manifest says which — every listed query MUST be present and green
    # (a query that crashed in Verify writes no dir and must read as a
    # FAILURE here, never as a skip)
    sel_path = f"{out_dir}/selected.txt"
    if os.path.isfile(sel_path):
        with open(sel_path) as f:
            expected = {l.strip() for l in f if l.strip()}
    else:
        expected = set(oracles)
    # every selected query must actually be scoreable: a name in the
    # manifest with no oracle SQL (queries/oracleSql map drift) would
    # otherwise be skipped silently and 'ALL OK' could verify nothing
    no_oracle = expected - set(oracles)
    for name in sorted(no_oracle):
        print(f"FAIL {name}: selected but has no oracle SQL")

    failures = len(no_oracle)
    compared = 0
    for name, sql in sorted(oracles.items()):
        if name not in expected:
            continue
        compared += 1
        if not os.path.isdir(f"{out_dir}/{name}"):
            print(f"FAIL {name}: no result dir (query crashed in Verify?)")
            failures += 1
            continue
        try:
            got = canon(pd.read_parquet(f"{out_dir}/{name}"))
        except Exception as e:
            print(f"FAIL {name}: spark result unreadable: {e}")
            failures += 1
            continue
        try:
            want = canon(con.execute(sql).df())
        except Exception as e:
            print(f"FAIL {name}: oracle sql error: {e}")
            failures += 1
            continue
        if got.shape != want.shape:
            print(f"FAIL {name}: shape {got.shape} vs oracle {want.shape}")
            failures += 1
            continue
        # dtype discipline (driver parity): the ONLY canonical mapping
        # allowed is integer-width alignment (spark int32 vs duckdb int64),
        # done by widening BOTH sides to int64 — never by narrowing the
        # oracle, which would wrap out-of-range values silently.
        # Any other dtype mismatch — in particular a DuckDB HUGEINT/decimal
        # arriving float64/object against an integer Spark column — is a
        # FAILURE, exactly like the driver's strict hash (the silent
        # coercion here let the q44 oracle-typing bug read green for two
        # rounds — VERDICT r05 "What's wrong" #2).
        if list(got.columns) != list(want.columns):
            print(f"FAIL {name}: column names {list(got.columns)} vs "
                  f"oracle {list(want.columns)}")
            failures += 1
            continue
        dtype_bad = []
        for c in got.columns:
            g, w = got[c].dtype, want[c].dtype
            if g == w:
                continue
            if pd.api.types.is_integer_dtype(g) and \
                    pd.api.types.is_integer_dtype(w):
                got[c] = got[c].astype("int64")  # widening only
                want[c] = want[c].astype("int64")
            else:
                dtype_bad.append(f"{c}: spark={g} oracle={w}")
        if dtype_bad:
            print(f"FAIL {name}: dtype mismatch ({'; '.join(dtype_bad)})")
            failures += 1
            continue
        eq = got.reset_index(drop=True).equals(want.reset_index(drop=True))
        if not eq:
            diff = (got != want)
            cells = int(diff.to_numpy().sum()) if got.shape == want.shape else -1
            print(f"FAIL {name}: {cells} differing cells")
            for col in got.columns:
                if not got[col].equals(want[col]):
                    m = diff[col]
                    print(f"  col {col}: spark={got[col][m].head(3).tolist()} "
                          f"oracle={want[col][m].head(3).tolist()}")
            failures += 1
        else:
            print(f"OK   {name}: {len(got)} rows")
    print(f"{'ALL OK' if failures == 0 else f'{failures} FAILURES'} "
          f"({compared} of {len(oracles)} queries)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
