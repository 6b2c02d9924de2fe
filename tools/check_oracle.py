#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle compare.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

Loads each <verifyOutDir>/<name> parquet (Spark result), runs the matching
oracle_sql.json entry in DuckDB with the sf parquet tables registered as
views, sorts columns by name, compares row-by-row (floats to 1e-9 rel).
Ends with `checked N of M rows: ok=... fail=...`; a run that was killed
part-way is the one whose output lacks that line.
NOT part of the shipped library — builder-side validation only.
"""
import json, sys, math
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(v):
    if isinstance(v, float):
        return round(v, 9)
    return v

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    checked = fails = 0
    for name, sql in sorted(oracle.items()):
        checked += 1
        try:
            got = con.sql(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").df()
            want = con.sql(sql).df()
            got = got[sorted(got.columns)]
            want = want[sorted(want.columns)]
            if list(got.columns) != list(want.columns):
                print(f"FAIL {name}: columns {list(got.columns)} vs {list(want.columns)}")
                fails += 1; continue
            if got.dtypes.tolist() != want.dtypes.tolist():
                print(f"WARN {name}: dtypes {got.dtypes.tolist()} vs {want.dtypes.tolist()}")
            if len(got) != len(want):
                print(f"FAIL {name}: rows {len(got)} vs {len(want)}")
                fails += 1; continue
            bad = 0
            for c in got.columns:
                for a, b in zip(got[c].tolist(), want[c].tolist()):
                    if isinstance(a, float) and isinstance(b, float):
                        if math.isnan(a) and math.isnan(b):
                            continue
                        if abs(a - b) > 1e-9 * max(1.0, abs(a), abs(b)):
                            bad += 1
                            if bad < 4:
                                print(f"  {name}.{c}: {a!r} != {b!r}")
                    elif str(a) != str(b):
                        bad += 1
                        if bad < 4:
                            print(f"  {name}.{c}: {a!r} != {b!r}")
            if bad:
                print(f"FAIL {name}: {bad} value mismatches")
                fails += 1
            else:
                print(f"OK   {name} ({len(got)} rows)")
        except Exception as e:
            print(f"ERROR {name}: {e}")
            fails += 1
    print(f"checked {checked} of {len(oracle)} rows: "
          f"ok={checked - fails} fail={fails}")
    sys.exit(1 if fails else 0)

if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
