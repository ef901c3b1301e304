"""Generic source/sink helpers.

The reference rides DuckDB's readers (parquet/csv/json); the Spark-native
equivalents keep everything declarative so Catalyst retains pushdown and
pruning on formats that support it. Format is inferred from the path
extension unless given explicitly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_EXT_FORMAT = {
    ".parquet": "parquet",
    ".pq": "parquet",
    ".csv": "csv",
    ".tsv": "csv",
    ".json": "json",
    ".jsonl": "json",
    ".ndjson": "json",
    ".orc": "orc",
}


def infer_format(path: str) -> str:
    ext = os.path.splitext(path.rstrip("/"))[1].lower()
    if ext in _EXT_FORMAT:
        return _EXT_FORMAT[ext]
    raise ValueError(f"cannot infer source format from {path!r}; pass format=")


def read_any(
    spark: SparkSession,
    path: str,
    format: str | None = None,
    schema=None,
    **options,
) -> DataFrame:
    """Read any supported source declaratively (no driver materialization).
    CSV defaults to header+inferSchema unless a schema is given; JSON is
    line-delimited by default (Spark semantics)."""
    fmt = format or infer_format(path)
    reader = spark.read.format(fmt)
    if fmt == "csv":
        if path.rstrip("/").endswith(".tsv"):
            options.setdefault("sep", "\t")
        options.setdefault("header", "true")
        if schema is None:
            options.setdefault("inferSchema", "true")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.options(**options).load(path)


def write_any(
    df: DataFrame,
    path: str,
    format: str | None = None,
    mode: str = "overwrite",
    partition_by: list | None = None,
    **options,
) -> None:
    """Write to any supported sink. ``partition_by`` maps to directory
    partitioning (the scan-pruning lever for downstream readers)."""
    fmt = format or infer_format(path)
    writer = df.write.format(fmt).mode(mode)
    if fmt == "csv":
        options.setdefault("header", "true")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.options(**options).save(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list,
    num_buckets: int = 32,
    sort_cols: list | None = None,
    format: str = "parquet",
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist as a BUCKETED (optionally sorted) managed table.

    Pre-bucketing is the 100 TB co-location strategy: two tables bucketed
    by the same key into the same bucket count join with ZERO Exchange on
    either side (asserted in tests/test_sources.py) — the shuffle is paid
    once at write time instead of per query. Requires a table (bucket
    metadata lives in the catalog), hence ``saveAsTable``.
    """
    w = df.write.format(format).mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        # external table: data at ``path``, bucket metadata in the catalog
        w = w.option("path", path)
    w.saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


# default size of a file written by compaction and Z-order layout
TARGET_FILE_BYTES = 512 * 1024 * 1024


def compact_files(
    spark: SparkSession,
    src: str,
    dest: str,
    target_file_bytes: int = TARGET_FILE_BYTES,
    order_col: str | None = None,
    format: str = "parquet",
) -> int:
    """Rewrite a dataset into ~``target_file_bytes`` files — the ingest
    maintenance step every long-lived 100 TB table needs (streaming sinks
    and over-parallel writers leave thousands of KB-scale files whose
    per-file open/footer/listing overhead dominates scans).

    File count is sized from the dataset's actual on-disk bytes (from the
    file-listing metadata Spark already has — no data read). With
    ``order_col`` the rewrite is ``repartitionByRange + sortWithinPartitions``
    so files carry disjoint key ranges (zone maps / skipping indexes then
    prune to ~1 file per point lookup); without it, a plain
    ``repartition(n)`` balances bytes. Returns the file count written.
    """
    df = spark.read.format(format).load(src)
    n = target_file_count(spark, src, target_file_bytes, format)
    from pyspark.sql import functions as F

    if order_col is not None:
        out = df.repartitionByRange(n, F.col(order_col)).sortWithinPartitions(
            order_col
        )
    else:
        out = df.repartition(n)
    out.write.format(format).mode("overwrite").save(dest)
    return n


def target_file_count(
    spark: SparkSession,
    src: str,
    target_file_bytes: int = TARGET_FILE_BYTES,
    format: str = "parquet",
) -> int:
    """Ceil(on-disk bytes / target) from the input files' metadata
    (driver-side listing — no data read)."""
    df = spark.read.format(format).load(src)
    total = 0
    sc = spark.sparkContext
    hconf = sc._jsc.hadoopConfiguration()
    jvm = sc._jvm
    for f in df.inputFiles():
        p = jvm.org.apache.hadoop.fs.Path(f)
        fs = p.getFileSystem(hconf)
        total += fs.getFileStatus(p).getLen()
    return max(1, -(-total // target_file_bytes))


def zorder_column(
    df: DataFrame, cols: list, bits: int = 16, out_col: str = "__z"
) -> DataFrame:
    """Morton (Z-order) interleave of ``cols``, the multi-column layout
    key behind Delta's OPTIMIZE ZORDER: sorting by one column makes zone
    maps selective on THAT column only; sorting by the bit-interleaved
    key keeps every participating column's values locally clustered, so
    per-file min/max stats prune range queries on ANY of them.

    Each column min-max scales to ``bits`` integer buckets (one
    metadata-scale min/max aggregate for the whole list — no data
    moves), then the bucket bits interleave into one long via plain
    shift/or expressions (pure whole-stage-codegen arithmetic, no UDF).
    NULL scales to bucket 0; a constant column contributes nothing.
    ``bits * len(cols)`` must fit 63 bits."""
    if bits * len(cols) > 63:
        raise ValueError(f"{bits} bits x {len(cols)} cols exceeds a long")
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"mn_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"mx_{c}") for c in cols],
    ).collect()[0]
    n_buckets = (1 << bits) - 1
    parts = []
    for j, c in enumerate(cols):
        mn, mx = stats[f"mn_{c}"], stats[f"mx_{c}"]
        if mn is None or mx is None or mx == mn:
            continue  # empty or constant: no bits to contribute
        scaled = F.floor(
            (F.coalesce(F.col(c).cast("double"), F.lit(mn)) - F.lit(mn))
            * F.lit(float(n_buckets))
            / F.lit(float(mx - mn))
        ).cast("long")
        bucket = F.greatest(F.least(scaled, F.lit(n_buckets)), F.lit(0))
        for i in range(bits):
            parts.append(
                F.shiftleft(
                    F.shiftright(bucket, i).bitwiseAND(F.lit(1)),
                    i * len(cols) + j,
                )
            )
    z = parts[0] if parts else F.lit(0).cast("long")
    for p in parts[1:]:
        z = z.bitwiseOR(p)
    return df.withColumn(out_col, z)


def zorder_layout(
    spark: SparkSession,
    src: str,
    dest: str,
    cols: list,
    target_file_bytes: int = TARGET_FILE_BYTES,
    bits: int = 16,
    format: str = "parquet",
) -> int:
    """Rewrite a dataset Z-ordered on ``cols`` (sized like
    :func:`compact_files`): repartitionByRange + sortWithinPartitions on
    the Morton key, so the written files tile the multi-dimensional
    space and ``build_zone_index`` + ``prune_files_range`` stay
    selective on EVERY listed column. Returns the file count written."""
    df = spark.read.format(format).load(src)
    n = target_file_count(spark, src, target_file_bytes, format)
    zdf = zorder_column(df, cols, bits=bits)
    (
        zdf.repartitionByRange(n, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .format(format)
        .save(dest)
    )
    return n


def rebalance_scan(df: DataFrame, min_frac: float = 0.5) -> DataFrame:
    """Widen a row-group-starved scan before expensive map work.

    Spark parallelizes a parquet scan at ROW-GROUP granularity: a table
    written as one file with one row group runs its entire first stage —
    scan plus every fused map expression — on a single core, no matter
    how many splits the planner cuts (31 of them come up empty). Heavy
    per-row work downstream (regex scans, shingle/minhash kernels) is
    then serialized on that core while the rest of the executor idles.

    When the scan's planned partition count is below ``min_frac`` of the
    session's default parallelism, repartition to full width: one narrow
    shuffle of the raw rows buys a full-width map stage (measured 7x on
    the PII/redaction query at the 10x stress corpus). At real scale the
    input has thousands of row groups, the partition count clears the
    threshold, and this is a no-op — the plan is untouched, so filter
    pushdown and pruning are preserved exactly.

    Call it on a freshly loaded table ONLY where the downstream work is
    map-heavy; aggregations that shuffle immediately gain nothing."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= max(1, int(target * min_frac)):
        return df
    return df.repartition(target)
