"""Local mimic of the driver's correctness gate: run each queries() entry on
Spark and its oracle_sql() on DuckDB, compare row count + column names +
order-insensitive values. Usage: python tools/check_correctness.py [sf_dir]"""

from __future__ import annotations

import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, ".")
import __spark_entry__ as E  # noqa: E402


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df


def main(sf_dir: str, only: list | None = None) -> int:
    from pyspark.sql import SparkSession

    from bitfilters_spark.session import WORKER_CONF

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config(map=WORKER_CONF)
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in E and ("region nation customer supplier part orders lineitem events documents embeddings".split()):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs, osql = E.queries(), E.oracle_sql()
    if only:
        qs = {k: v for k, v in qs.items() if k in only}
    failures = 0
    for name, fn in qs.items():
        t0 = time.time()
        try:
            mine = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            failures += 1
            continue
        dt = time.time() - t0
        if name not in osql:
            print(f"ok?  {name}: rows-only ({len(mine)} rows, {dt:.1f}s)")
            if len(mine) == 0:
                print(f"WARN {name}: zero rows")
            continue
        try:
            ref = con.sql(osql[name]).df()
        except Exception as ex:
            print(f"FAIL {name}: oracle error: {ex}")
            failures += 1
            continue
        a, b = canon(mine), canon(ref)
        if list(a.columns) != list(b.columns):
            print(f"FAIL {name}: columns {list(a.columns)} vs {list(b.columns)}")
            failures += 1
        elif len(a) != len(b):
            print(f"FAIL {name}: rows {len(a)} vs {len(b)}")
            failures += 1
        else:
            # Driver parity: its value hash is dtype-sensitive, so an int64
            # Spark column vs a float64 DuckDB export is a FAIL even when
            # values match (the r4/r5 HUGEINT->float64 class).
            dtype_bad = [
                c
                for c in a.columns
                if (a[c].dtype.kind in "iu") != (b[c].dtype.kind in "iu")
                and not (a[c].isna().any() or b[c].isna().any())
            ]
            try:
                pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False, rtol=1e-9)
                if dtype_bad:
                    print(f"FAIL {name}: values equal but dtypes differ on {dtype_bad} (driver hash would be red)")
                    failures += 1
                else:
                    print(f"PASS {name} ({len(a)} rows, {dt:.1f}s)")
            except AssertionError as ex:
                print(f"FAIL {name}: values differ: {str(ex)[:400]}")
                failures += 1
    print(f"\n{'ALL PASS' if failures == 0 else f'{failures} FAILURES'}")
    return failures


if __name__ == "__main__":
    sys.exit(
        main(
            sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01",
            only=sys.argv[2].split(",") if len(sys.argv) > 2 else None,
        )
    )
