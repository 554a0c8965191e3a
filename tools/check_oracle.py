"""Local replica of the driver's correctness gate: run each queries() entry on
Spark and its oracle_sql() on DuckDB at sf0.01, compare row count, column
names, and order-insensitive values.

Usage: python tools/check_oracle.py [query ...]
"""

from __future__ import annotations

import math
import os
import sys

# gate the engine of the checkout this script sits in, in the driver and in
# the Python workers (they inherit PYTHONPATH from the JVM's environment)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    return str(v)


def norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in idx) for r in rows)


def main():
    sf_dir = "/root/testdata/sf0.01"
    import __spark_entry__ as E
    from datachecker_spark.session import get_spark

    # cores: $SPARK_GRAFT_CPUS, else all of the host's (get_spark's default)
    spark = get_spark(shuffle_partitions=8, app_name="oracle-check")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = E.queries()
    oracles = E.oracle_sql()
    names = sys.argv[1:] or sorted(qs)
    failed = []
    for name in names:
        sdf = qs[name](spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        if name not in oracles:
            print(f"{name}: rows-only (no oracle), {len(srows)} rows")
            continue
        res = con.execute(oracles[name])
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        ok_cols = sorted(scols) == sorted(dcols)
        a, b = norm_rows(scols, srows), norm_rows(dcols, drows)
        ok_vals = a == b
        status = "OK" if (ok_cols and ok_vals) else "FAIL"
        print(f"{name}: {status} spark={len(srows)} duck={len(drows)} cols={'OK' if ok_cols else f'{sorted(scols)} vs {sorted(dcols)}'}")
        if not ok_vals and ok_cols:
            sa, sb = set(a), set(b)
            for r in list(sa - sb)[:3]:
                print(f"   spark-only: {r}")
            for r in list(sb - sa)[:3]:
                print(f"   duck-only:  {r}")
        if status == "FAIL":
            failed.append(name)

    print(f"\n{len(names) - len(failed)}/{len(names)} queries match")
    if failed:
        print("FAILED:", failed)
        sys.exit(1)


if __name__ == "__main__":
    main()
