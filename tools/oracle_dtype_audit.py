"""Dtype-parity audit between oracle_sql() (DuckDB pandas export) and
queries() (Spark schema).

The driver's correctness gate hashes exported values dtype-sensitively, so a
DuckDB HUGEINT aggregate (SUM over BIGINT, integer division chains, ...)
exporting as float64 fails `hash_match` even when every value is identical —
this broke q_pack_shards in round 4 and q_token_count in round 5. This audit
kills the CLASS: for every oracle column whose Spark counterpart is integral
(or boolean/string), the DuckDB pandas export must be integral (or bool /
object) too.

Spark side never executes — `fn(spark, sf_dir).schema` is plan-only — and
DuckDB runs at sf0.001, so the whole audit is seconds.

Usage: python tools/oracle_dtype_audit.py [sf_dir]
Exit code = number of mismatched (query, column) pairs.
"""

from __future__ import annotations

import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, ".")
import __spark_entry__ as E  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def spark_kind(dt) -> str:
    """Collapse a Spark DataType to the dtype family the driver's hash sees."""
    from pyspark.sql import types as T

    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, T.DecimalType):
        return "float" if dt.scale > 0 else "int"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.StringType):
        return "str"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        return "time"
    return "other"


def pandas_kind(dtype, series: pd.Series) -> str:
    if pd.api.types.is_bool_dtype(dtype):
        return "bool"
    if pd.api.types.is_integer_dtype(dtype):
        return "int"
    if pd.api.types.is_float_dtype(dtype):
        # Nullable-int exports come out float64; only flag when no NaNs —
        # with NaNs present both engines export float64 and hashes agree.
        return "float" if not series.isna().any() else "float-nullable"
    if pd.api.types.is_datetime64_any_dtype(dtype):
        return "time"
    if dtype == object:
        vals = series.dropna()
        if len(vals) and all(isinstance(v, (int, np.integer)) for v in vals):
            return "int"  # DuckDB HUGEINT sometimes exports as object-of-int
        return "str"
    return "other"


def main(sf_dir: str) -> int:
    from pyspark.sql import SparkSession

    from bitfilters_spark.session import WORKER_CONF

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .config(map=WORKER_CONF)
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs, osql = E.queries(), E.oracle_sql()
    bad = 0
    for name, sql in osql.items():
        if name not in qs:
            print(f"WARN {name}: oracle with no queries() entry")
            bad += 1
            continue
        try:
            schema = qs[name](spark, sf_dir).schema
        except Exception as ex:
            print(f"FAIL {name}: spark plan error: {ex}")
            bad += 1
            continue
        try:
            ref = con.sql(sql).df()
        except Exception as ex:
            print(f"FAIL {name}: oracle error: {ex}")
            bad += 1
            continue
        skind = {f.name: spark_kind(f.dataType) for f in schema.fields}
        if sorted(skind) != sorted(ref.columns):
            print(f"FAIL {name}: columns {sorted(skind)} vs {sorted(ref.columns)}")
            bad += 1
            continue
        for c in ref.columns:
            sk, pk = skind[c], pandas_kind(ref[c].dtype, ref[c])
            if sk == "other" or pk == "float-nullable":
                continue
            if sk != pk:
                print(
                    f"MISMATCH {name}.{c}: spark={sk} duckdb={pk} "
                    f"(duckdb dtype {ref[c].dtype}) — cast the oracle column"
                )
                bad += 1
    print(f"\n{'DTYPE-CLEAN' if bad == 0 else f'{bad} dtype mismatches'}")
    return bad


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"))
