"""Local stand-in for the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() twin on DuckDB over the same parquet
tables, compare row-count, column names, and order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd


def norm_cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, pd.Timestamp):
        return v.tz_localize(None).isoformat() if v.tzinfo else v.isoformat()
    return str(v)


def canonical(df: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    cols = sorted(df.columns)
    rows = sorted(tuple(norm_cell(v) for v in row) for row in df[cols].itertuples(index=False))
    return cols, rows


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from ubdc_airbnb_spark.operators.prefixsum import release_pins
    from ubdc_airbnb_spark.session import get_spark

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    n_pass = n_fail = n_rowsonly = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        finally:
            release_pins()  # 221-query session: hold one query's pins max
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows (no oracle)")
            n_rowsonly += 1
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        s_cols, s_rows = canonical(sdf)
        o_cols, o_rows = canonical(odf)
        if s_cols != o_cols:
            print(f"FAIL  {name}: columns {s_cols} != {o_cols}")
            n_fail += 1
        elif len(s_rows) != len(o_rows):
            print(f"FAIL  {name}: rowcount {len(s_rows)} != {len(o_rows)}")
            n_fail += 1
        elif s_rows != o_rows:
            diff = [i for i, (a, b) in enumerate(zip(s_rows, o_rows)) if a != b]
            i = diff[0]
            print(f"FAIL  {name}: {len(diff)}/{len(s_rows)} rows differ; first:")
            print(f"      spark : {s_rows[i]}")
            print(f"      duckdb: {o_rows[i]}")
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(s_rows)} rows")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
