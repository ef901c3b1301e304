"""File-level data skipping with filter indexes.

The reference documents "data skipping" as a headline use case for its
filters (``docs/README.md``: "Skip irrelevant data partitions in analytical
queries"). Inside DuckDB that means probing a filter before scanning a
partition; the Spark-first realization is a **file-level filter index**,
the same shape as Delta/Iceberg column stats but with no-false-negative
membership filters instead of min/max ranges:

1. ``build_file_index`` — ONE scan of the dataset, grouped by
   ``input_file_name()``: a mergeable filter (bloom family) per file via
   the two-phase partial build. Shuffle carries one small blob per
   (partition × file), never rows.
2. ``prune_files`` — probe each file's blob with the wanted key hashes.
   The index is metadata-scale (one row per file: a 100 TB dataset with
   1 GB files has ~100k rows), so probing happens driver-side — exactly
   where Spark's own file listing and footer pruning happen; the surviving
   file list must reach the driver anyway to form the read plan.
3. ``skipping_read`` — plan the parquet scan over ONLY the surviving
   files, then apply the exact predicate. No false negatives ⇒ the result
   is identical to a full scan; the filter only removes whole files that
   provably contain no matching key.

Persist the index with ``save_index`` / ``load_index`` and rebuild only
for files that changed (an index row is keyed by file path).
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

from ..functions.filters import _probe_blob, build_filter
from ..functions.hashing import key_hash64, spark_hash64


def build_file_index(
    spark: SparkSession,
    path: str,
    key_cols: list,
    kind: str = "bloom",
    **filter_kw,
) -> DataFrame:
    """(file, filter) — one membership filter per parquet file over the key.

    Mergeable kinds only make sense here (the per-file build is the
    two-phase partial aggregate); peeled kinds would work but buy nothing
    for an index. Integral key columns hash as bigint (``key_hash64``), the
    hash ``key_hashes`` gives a Python int, so an int32 key column prunes
    correctly.
    """
    df = spark.read.parquet(path)
    keyed = df.select(
        F.input_file_name().alias("file"),
        key_hash64(df, *key_cols).alias("h"),
    )
    return build_filter(keyed, ["file"], "h", kind, **filter_kw)


def _outside_int64(v) -> bool:
    return isinstance(v, int) and not -(2**63) <= v < 2**63


def _xxhash64_longs(vals, seed: int = 42) -> np.ndarray:
    """Spark's ``xxhash64`` of int64 values (XXH64 of the 8-byte long,
    Spark's default seed 42), computed locally in numpy — byte-identical
    to ``F.xxhash64(long_col)`` (pinned by
    tests/test_skipping.py::test_local_xxhash64_matches_spark). Lets a
    driver-side probe hash a handful of literal keys without paying a
    whole Spark job round trip."""
    P1 = np.uint64(0x9E3779B185EBCA87)
    P2 = np.uint64(0xC2B2AE3D27D4EB4F)
    P3 = np.uint64(0x165667B19E3779F9)
    P4 = np.uint64(0x85EBCA77C2B2AE63)
    P5 = np.uint64(0x27D4EB2F165667C5)

    def rotl(x, r):
        return (x << np.uint64(r)) | (x >> np.uint64(64 - r))

    with np.errstate(over="ignore"):
        k1 = np.asarray(vals, dtype=np.int64).view(np.uint64) * P2
        k1 = rotl(k1, 31) * P1
        h = (np.uint64(seed) + P5 + np.uint64(8)) ^ k1
        h = rotl(h, 27) * P1 + P4
        h ^= h >> np.uint64(33)
        h *= P2
        h ^= h >> np.uint64(29)
        h *= P3
        h ^= h >> np.uint64(32)
    return h


def key_hashes(spark: SparkSession, values: list) -> np.ndarray:
    """Hash probe values with the SAME hash the index used (Spark
    xxhash64, seed 42, integral keys widened to bigint). Integer keys that
    fit in int64 hash locally (`_xxhash64_longs` —
    zero Spark jobs, the common literal-IN-list shape); other values fall
    back to the tiny-DataFrame round trip so the parity guarantee stays
    expression-level. There an int outside int64 becomes a NULL long, a
    value no integral key column can hold, so it prunes nothing wrongly."""
    if values and all(
        isinstance(v, int) and not isinstance(v, bool) and not _outside_int64(v)
        for v in values
    ):
        return _xxhash64_longs(values)
    vdf = spark.createDataFrame([(v,) for v in values], ["v"])
    rows = vdf.select(spark_hash64("v").alias("h")).collect()
    return np.array([r["h"] for r in rows], dtype=np.int64).view(np.uint64)


def prune_files(
    index: DataFrame, hashes: np.ndarray, filter_col: str = "filter"
) -> list[str]:
    """Files that MAY contain any of the hashed keys (no false negatives:
    a pruned file definitely contains none of them)."""
    rows = index.collect()  # metadata-scale: one row per file
    return sorted(
        r["file"]
        for r in rows
        if len(r[filter_col]) and bool(_probe_blob(bytes(r[filter_col]), hashes).any())
    )


def skipping_read(
    spark: SparkSession,
    path: str,
    key_col: str,
    values: list,
    index: DataFrame | None = None,
    kind: str = "bloom",
    **filter_kw,
) -> DataFrame:
    """``SELECT * FROM path WHERE key_col IN values`` reading only files the
    index cannot rule out. Exact: the final ``isin`` predicate re-checks
    survivors (bloom FPs cost I/O, never correctness). Over an integral
    key column, ints outside int64 match no row and are left out of it
    (Spark cannot make a literal of them)."""
    if index is None:
        index = build_file_index(spark, path, [key_col], kind, **filter_kw)
    files = prune_files(index, key_hashes(spark, values))
    if not files:
        return spark.read.parquet(path).where(F.lit(False))
    df = spark.read.parquet(*files)
    if any(_outside_int64(v) for v in values) and isinstance(
        df.select(key_col).schema[0].dataType, IntegralType
    ):
        values = [v for v in values if not _outside_int64(v)]
        if not values:
            return df.where(F.lit(False))
    return df.where(F.col(key_col).isin(values))


def save_index(index: DataFrame, path: str) -> None:
    index.write.mode("overwrite").parquet(path)


def load_index(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def make_file_partitioned_copy(
    spark: SparkSession,
    src_parquet: str,
    dest_dir: str,
    order_col: str,
    num_files: int = 8,
) -> str:
    """Rewrite a dataset into ``num_files`` files range-ordered by
    ``order_col`` (files correlate with the key ⇒ skipping can prune).
    This is the layout step a real pipeline does once at ingest."""
    df = spark.read.parquet(src_parquet)
    df.repartitionByRange(num_files, F.col(order_col)).write.mode(
        "overwrite"
    ).parquet(dest_dir)
    return dest_dir


def build_zone_index(
    spark: SparkSession, path: str, stat_cols: list
) -> DataFrame:
    """(file, <c>_min, <c>_max, ...) — per-file min/max ZONE MAPS, the
    Delta/Iceberg column-stats analog and the range-predicate complement
    to the membership index: blooms answer ``key IN (...)``, zone maps
    answer ``col BETWEEN lo AND hi``. ONE scan, plain map-side-combined
    min/max aggregate; the result is metadata-scale (a row per file)."""
    df = spark.read.parquet(path)
    aggs = []
    for c in stat_cols:
        aggs += [F.min(c).alias(f"{c}_min"), F.max(c).alias(f"{c}_max")]
    return (
        df.select(F.input_file_name().alias("file"), *stat_cols)
        .groupBy("file")
        .agg(*aggs)
    )


def prune_files_range(
    zone_index: DataFrame, col: str, lo=None, hi=None
) -> list[str]:
    """Files whose [min, max] intersects [lo, hi] (None = open bound).
    No false negatives: a pruned file provably holds no row in range."""
    rows = zone_index.collect()  # metadata-scale
    out = []
    for r in rows:
        mn, mx = r[f"{col}_min"], r[f"{col}_max"]
        if mn is None and mx is None:
            continue  # file had only NULLs: no row can satisfy a range
        if (lo is None or mx >= lo) and (hi is None or mn <= hi):
            out.append(r["file"])
    return sorted(out)


def zone_read(
    spark: SparkSession,
    path: str,
    col: str,
    lo=None,
    hi=None,
    zone_index: DataFrame | None = None,
) -> DataFrame:
    """``SELECT * FROM path WHERE col BETWEEN lo AND hi`` reading only
    files the zone map cannot rule out; the exact predicate re-checks
    survivors, so the result is full-scan-identical. On a range-ordered
    layout (``make_file_partitioned_copy``) this prunes to
    ~range-width/file-width of the files."""
    if zone_index is None:
        zone_index = build_zone_index(spark, path, [col])
    files = prune_files_range(zone_index, col, lo, hi)
    if not files:
        return spark.read.parquet(path).where(F.lit(False))
    pred = F.lit(True)
    if lo is not None:
        pred = pred & (F.col(col) >= lo)
    if hi is not None:
        pred = pred & (F.col(col) <= hi)
    return spark.read.parquet(*files).where(pred)


def refresh_file_index(
    spark: SparkSession,
    path: str,
    old_index: DataFrame,
    key_cols: list,
    kind: str = "bloom",
    filter_col: str = "filter",
    **filter_kw,
) -> DataFrame:
    """Incrementally maintain a file index as the dataset evolves (the
    module contract: "rebuild only for files that changed"): rows for
    files still present are KEPT byte-identical (their data is immutable
    — parquet files don't mutate in place), rows for deleted files are
    dropped, and ONLY files new since ``old_index`` are scanned and
    filtered. The refresh scan cost is proportional to the NEW data, not
    the table."""
    df = spark.read.parquet(path)
    current = {f for f in df.inputFiles()}
    old_rows = old_index.collect()  # metadata-scale
    kept = [(r["file"], bytes(r[filter_col])) for r in old_rows if r["file"] in current]
    known = {f for f, _ in kept}
    new_files = sorted(current - known)
    out_rows = kept
    if new_files:
        new_df = spark.read.parquet(*new_files)
        keyed = new_df.select(
            F.input_file_name().alias("file"),
            key_hash64(new_df, *key_cols).alias("h"),
        )
        built = build_filter(keyed, ["file"], "h", kind, **filter_kw)
        out_rows = kept + [
            (r["file"], bytes(r[filter_col])) for r in built.collect()
        ]
    return spark.createDataFrame(out_rows, f"file string, {filter_col} binary")


def build_stats_index(
    spark: SparkSession, path: str, stat_cols: list
) -> DataFrame:
    """(file, n_rows, <c>_min, <c>_max, <c>_count, <c>_sum, ...) — the
    zone map extended with the ADDITIVE stats (row count, non-null
    count, sum) that Iceberg/Delta manifests carry. Mins/maxes compose
    by min/max, counts and sums by addition — so any global or
    per-file-subset min/max/count/sum/avg aggregate is answerable from
    the index ALONE (``aggregate_from_index``), a metadata-scale
    aggregation with zero data scan. ONE scan to build, map-side
    combined."""
    df = spark.read.parquet(path)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in stat_cols:
        aggs += [
            F.min(c).alias(f"{c}_min"),
            F.max(c).alias(f"{c}_max"),
            F.count(c).alias(f"{c}_count"),
            F.sum(c).alias(f"{c}_sum"),
        ]
    return (
        df.select(F.input_file_name().alias("file"), *stat_cols)
        .groupBy("file")
        .agg(*aggs)
    )


def aggregate_from_index(stats_index: DataFrame, cols: list) -> DataFrame:
    """Answer ``SELECT count(*), min(c), max(c), count(c), sum(c),
    avg(c) ...`` EXACTLY from the stats index — the scan never happens.

    This is the aggregate-pushdown endgame of data skipping: on a
    100 TB / 100k-file table the input here is 100k metadata rows, so
    the "query" is a sub-second driver-adjacent aggregation instead of
    a full-table scan. Exactness: min of per-file mins IS the global
    min (idempotent-merge), sums/counts of per-file sums/counts ARE the
    global ones (additive-merge); avg derives as sum/count, null-safe.
    Returns a one-row DataFrame named ``n_rows, <c>_min, <c>_max,
    <c>_count, <c>_sum, <c>_avg, ...``."""
    aggs = [F.sum("n_rows").alias("n_rows")]
    for c in cols:
        aggs += [
            F.min(f"{c}_min").alias(f"{c}_min"),
            F.max(f"{c}_max").alias(f"{c}_max"),
            F.sum(f"{c}_count").alias(f"{c}_count"),
            F.sum(f"{c}_sum").alias(f"{c}_sum"),
        ]
    out = stats_index.agg(*aggs)
    for c in cols:
        out = out.withColumn(
            f"{c}_avg",
            F.when(
                F.col(f"{c}_count") > 0,
                F.col(f"{c}_sum") / F.col(f"{c}_count"),
            ),
        )
    return out


def prune_files_multi(
    zone_index: DataFrame, predicates: list
) -> list[str]:
    """Files surviving a CONJUNCTION of range predicates —
    ``predicates = [(col, lo, hi), ...]`` (None = open bound). A file
    survives only if EVERY predicate's [lo, hi] intersects that
    column's [min, max]; with a Z-order layout (`zorder_layout`) a
    multi-column conjunction prunes multiplicatively. No false
    negatives, same contract as `prune_files_range`."""
    rows = zone_index.collect()  # metadata-scale
    out = []
    for r in rows:
        ok = True
        for col, lo, hi in predicates:
            mn, mx = r[f"{col}_min"], r[f"{col}_max"]
            if mn is None and mx is None:
                ok = False  # all-NULL column: no row satisfies a range
                break
            if (lo is not None and mx < lo) or (hi is not None and mn > hi):
                ok = False
                break
        if ok:
            out.append(r["file"])
    return sorted(out)
