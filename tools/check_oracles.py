"""Local simulation of the driver's correctness gate: run every
``__spark_entry__.queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf, compare row count, column names, and values.

Queries that read the reference fixtures (``FIXTURE_QUERIES``) are reported
as unchecked when the fixtures are absent.

Usage: python tools/check_oracles.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import math
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb

import __spark_entry__ as entrymod
from osm2geojson_lite_spark.sources.synth import REFERENCE_DATA_DIR

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return repr(v)


def rows_key(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"create view {t} as select * from '{sf_dir}/{t}.parquet'")

    from osm2geojson_lite_spark.session import get_spark
    spark = get_spark("oracle-check", cpus=8, shuffle_partitions=16)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    fixtures = os.path.isdir(REFERENCE_DATA_DIR)
    failures, unchecked = [], []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if not fixtures and name in entrymod.FIXTURE_QUERIES:
            unchecked.append(name)
            print(f"skip  {name}: unchecked: reference fixtures absent")
            continue
        try:
            df = fn(spark, sf_dir)
            spark_cols = list(df.columns)
            spark_rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            print(f"ok-   {name}: rows-only ({len(spark_rows)} rows, no oracle)")
            continue
        try:
            cur = con.execute(oracles[name])
            duck_cols = [d[0] for d in cur.description]
            duck_rows = cur.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error {e}")
            continue
        status = []
        if sorted(spark_cols) != sorted(duck_cols):
            status.append(f"cols spark={sorted(spark_cols)} duck={sorted(duck_cols)}")
        if len(spark_rows) != len(duck_rows):
            status.append(f"rowcount spark={len(spark_rows)} duck={len(duck_rows)}")
        if not status:
            sk = rows_key(spark_cols, spark_rows)
            dk = rows_key(duck_cols, duck_rows)
            if sk != dk:
                diffs = [(a, b) for a, b in zip(sk, dk) if a != b][:3]
                status.append(f"values differ, first diffs: {diffs}")
        if status:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(status)}")
        else:
            print(f"ok    {name}: {len(spark_rows)} rows match")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else "")
          + (f"; {len(unchecked)} unchecked: {unchecked}" if unchecked else ""))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
