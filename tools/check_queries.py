"""Local stand-in for the driver's correctness gate: run every REGISTRY
query on Spark and its oracle SQL on DuckDB over the same parquet dir,
compare row count + column names + order-insensitive values.

Usage: python tools/check_queries.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from kapra_timeseries_anonymization_spark.plans import lifetime
from kapra_timeseries_anonymization_spark.queries import REGISTRY
from kapra_timeseries_anonymization_spark.session import build_session
from kapra_timeseries_anonymization_spark.sources.tables import TABLES


def canon(val):
    if isinstance(val, float):
        if val != val:
            return "nan"
        # kill -0.0 and float repr noise after rounding
        return format(val + 0.0, ".10g")
    if isinstance(val, bool):
        return str(bool(val))
    return str(val)


def rows_canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = build_session("check-queries")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    n_pass = n_fail = n_rowsonly = 0
    for name, (fn, sql) in REGISTRY.items():
        if only and name not in only:
            continue
        try:
            # releases what the query registered once it is collected
            with lifetime.scope():
                sdf = fn(spark, sf_dir)
                scols = sdf.columns
                srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if sql is None:
            print(f"ROWS-ONLY {name}: {len(srows)} rows, cols={scols}")
            n_rowsonly += 1
            continue
        try:
            res = con.execute(sql)
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error {e}")
            n_fail += 1
            continue
        ok = True
        if sorted(scols) != sorted(dcols):
            print(f"FAIL {name}: columns spark={sorted(scols)} duck={sorted(dcols)}")
            ok = False
        elif len(srows) != len(drows):
            print(f"FAIL {name}: rowcount spark={len(srows)} duck={len(drows)}")
            ok = False
        else:
            a = rows_canon(scols, srows)
            b = rows_canon(dcols, drows)
            if a != b:
                diffs = [(x, y) for x, y in zip(a, b) if x != y][:5]
                print(f"FAIL {name}: value mismatch, first diffs: {diffs}")
                ok = False
        if ok:
            print(f"PASS {name}: {len(srows)} rows")
            n_pass += 1
        else:
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
