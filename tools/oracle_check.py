#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Usage: python3 tools/oracle_check.py <sfDir> <outDir>
  1. assumes `sbt "runMain graft.Verify <sfDir> <outDir>"` already ran
  2. registers each testdata parquet as a DuckDB view named after the table
  3. runs each oracle_sql.json entry, compares to the Spark parquet result:
     columns sorted by name, rows sorted by all columns, exact value match
     (floats compared bit-exact AND with 1e-9 relative tolerance, both
     reported, so rounding-discipline violations are visible).

With SPARK_GRAFT_VERIFY_ONLY set (the comma-separated subset Verify
dumped), every query outside it prints SKIPPED and is not counted; a
listed query with no dump is still a FAIL.
"""
import json
import math
import os
import sys

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def sort_cell(v):
    # floats sort on a 9-sig-digit key so tolerance-range cross-engine noise
    # cannot order the two sides differently and misalign the pairwise zip
    if isinstance(v, float):
        return (v is None, "float", f"{v:.9g}")
    return (v is None, str(type(v)), str(v))


def norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in order) for r in rows]
    out.sort(key=lambda r: tuple(sort_cell(v) for v in r))
    return [cols[i] for i in order], out


def close(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if a == b or (math.isnan(a) and math.isnan(b)):
            return True, a == b
        ok = abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
        return ok, False
    return a == b, a == b


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    # parsed as graft.Verify parses it: split on commas, trim each name
    only = os.environ.get("SPARK_GRAFT_VERIFY_ONLY")
    only = None if only is None else {n.strip() for n in only.split(",")}
    n_pass = n_fail = n_skip = 0
    for name, sql in sorted(oracle.items()):
        if only is not None and name not in only:
            print(f"SKIPPED {name}")
            n_skip += 1
            continue
        try:
            spark_rel = con.sql(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
            scols, srows = spark_rel.columns, spark_rel.fetchall()
            orel = con.sql(sql)
            ocols, orows = orel.columns, orel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        scols2, srows2 = norm(srows, scols)
        ocols2, orows2 = norm(orows, ocols)
        if [c.lower() for c in scols2] != [c.lower() for c in ocols2]:
            print(f"FAIL {name}: columns spark={scols2} oracle={ocols2}")
            n_fail += 1
            continue
        if len(srows2) != len(orows2):
            print(f"FAIL {name}: rowcount spark={len(srows2)} oracle={len(orows2)}")
            n_fail += 1
            continue
        bad = None
        inexact = 0
        for i, (sr, orow) in enumerate(zip(srows2, orows2)):
            for c, (sv, ov) in enumerate(zip(sr, orow)):
                ok, exact = close(sv, ov)
                if not ok:
                    bad = (i, scols2[c], sv, ov)
                    break
                if not exact:
                    inexact += 1
            if bad:
                break
        if bad:
            print(f"FAIL {name}: row {bad[0]} col {bad[1]}: spark={bad[2]!r} oracle={bad[3]!r}")
            n_fail += 1
        else:
            tag = f" ({inexact} tolerance-only cells — tighten rounding!)" if inexact else ""
            print(f"PASS {name}: {len(srows2)} rows{tag}")
            n_pass += 1
    skipped = "" if only is None else f" / {n_skip} skipped"
    print(f"== {n_pass} pass / {n_fail} fail{skipped} ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
