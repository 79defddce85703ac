"""Local approximation of the driver's correctness compare: run each
queries()[name] on Spark and oracle_sql()[name] on DuckDB at a given sf dir,
compare row count, sorted column names, and order-insensitive values
(floats to 1e-9 relative; everything else exact after stringification).

Usage: python tools/check_entry.py [sf_dir] [name ...]
"""

from __future__ import annotations

import math
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb

import __spark_entry__ as entry
from ndap_data_validator_spark.session import get_spark


def norm_cell(v):
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", round(v, 9))
    if isinstance(v, int):
        return ("i", v)
    if v is None:
        return ("n",)
    return ("s", str(v))


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(norm_cell(r[i]) for i in order))
    out.sort()
    return [cols[i] for i in order], out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:] or None

    spark = get_spark(app_name="check-entry")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            t = f.removesuffix(".parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{f}'")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if names and name not in names:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ok   {name}: rows={len(srows)} (rows-only, no oracle)")
            continue
        try:
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        sc, sr = norm_rows(scols, [tuple(r) for r in srows])
        oc, orr = norm_rows(ocols, orows)
        if sc != oc:
            print(f"FAIL {name}: columns {sc} vs {oc}")
            failures += 1
            continue
        if len(sr) != len(orr):
            print(f"FAIL {name}: rowcount {len(sr)} vs {len(orr)}")
            failures += 1
            continue
        bad = [(a, b) for a, b in zip(sr, orr) if a != b]
        if bad:
            print(f"FAIL {name}: {len(bad)} differing rows; first: {bad[0][0]} vs {bad[0][1]}")
            failures += 1
            continue
        print(f"ok   {name}: rows={len(sr)} MATCH")
    print(f"\n{'ALL OK' if failures == 0 else f'{failures} FAILURES'}")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
