#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <outDir>

Reads each <outDir>/<name> parquet (written by graft.Verify), runs the
matching SQL from <outDir>/oracle_sql.json in DuckDB over views named
after the parquet tables in <sfDir>, and compares: column names (sorted),
dtypes (loosely), row count, and exact cell values after sorting both
sides by all columns. Exit code = number of mismatching queries.
"""
import glob
import json
import math
import os
import sys
import tempfile

import duckdb


def canon(rows, cols):
    out = []
    for r in rows:
        rr = []
        for v in r:
            if isinstance(v, float):
                if math.isnan(v):
                    rr.append("NaN")
                else:
                    rr.append(repr(v))
            elif v is None:
                rr.append("NULL")
            else:
                rr.append(str(v))
        out.append(tuple(rr))
    return sorted(out)


def main(sf_dir, out_dir):
    # a spill directory of this run's own: DuckDB's default `.tmp` is
    # relative to the cwd, and two checks sharing it abort
    spill = tempfile.TemporaryDirectory(prefix="check_oracle_")
    con = duckdb.connect(config={"temp_directory": spill.name})
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    n_bad = 0
    for qname in sorted(oracle):
        res_dir = os.path.join(out_dir, qname)
        if not os.path.isdir(res_dir):
            print(f"FAIL {qname}: no spark result dir")
            n_bad += 1
            continue
        spark_rel = con.sql(
            f"SELECT * FROM read_parquet('{res_dir}/*.parquet')")
        try:
            duck_rel = con.sql(oracle[qname])
        except Exception as e:
            print(f"FAIL {qname}: oracle SQL error: {e}")
            n_bad += 1
            continue
        scols = sorted(spark_rel.columns)
        dcols = sorted(duck_rel.columns)
        if [c.lower() for c in scols] != [c.lower() for c in dcols]:
            print(f"FAIL {qname}: columns {scols} vs {dcols}")
            n_bad += 1
            continue
        sq = spark_rel.project(", ".join(f'"{c}"' for c in scols))
        dq = duck_rel.project(", ".join(f'"{c}"' for c in dcols))
        srows = canon(sq.fetchall(), scols)
        drows = canon(dq.fetchall(), dcols)
        if len(srows) != len(drows):
            print(f"FAIL {qname}: rowcount {len(srows)} vs {len(drows)}")
            n_bad += 1
            continue
        if srows != drows:
            diffs = [(a, b) for a, b in zip(srows, drows) if a != b]
            print(f"FAIL {qname}: {len(diffs)} differing rows; first: "
                  f"spark={diffs[0][0]} duck={diffs[0][1]}")
            n_bad += 1
            continue
        stypes = dict(zip(spark_rel.columns, map(str, spark_rel.types)))
        dtypes = dict(zip(duck_rel.columns, map(str, duck_rel.types)))
        tdiff = {c: (stypes[c], dtypes[c]) for c in stypes
                 if stypes.get(c) != dtypes.get(c)}
        note = f"  [type-diff {tdiff}]" if tdiff else ""
        print(f"OK   {qname}: {len(srows)} rows{note}")
    print(f"{n_bad} failures")
    return n_bad


if __name__ == "__main__":
    sys.exit(min(main(sys.argv[1], sys.argv[2]), 125))
