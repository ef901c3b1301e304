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
3. ``skipping_read`` — plan the parquet scan over the surviving files
   and the files the index does not cover, then apply the exact
   predicate. No false negatives ⇒ the result is identical to a full
   scan; the filter only removes whole files that provably contain no
   matching key.

Persist the index with ``save_index`` / ``load_index`` and rebuild only
for files that changed (an index row is keyed by file path).

Index handle — a lookup pays for its scan, not for reloading metadata:

* ``prune_files``, ``prune_files_range``, ``prune_files_multi`` and
  ``refresh_file_index`` read an index DataFrame through one handle, held
  in a ``weakref.WeakKeyDictionary`` so that it never keeps the index
  alive. The first lookup collects the index (one job) into a state: its
  rows, the files it covers, each file's filter (sniffed once) and a
  version stamp, the (mtime, length) of each of the index's own files,
  ``index.inputFiles()``. Every later lookup stats those files again (no
  job) and collects again only when the stamp differs: an index file
  rewritten in place or removed. A new collect makes a new state and
  swaps it in whole, and a lookup takes the covered files from the same
  state its pruning read, so threads that share an index never mix two
  collects. ``load_index`` makes a new DataFrame, so a re-saved index
  loaded again starts a new handle.
* Per table path the module keeps the table's schema and file list, for
  the 64 tables read most recently, keyed by the table root's stamp: each
  directory under a local root with its (mtime, length, entry names), so
  a file added or removed anywhere in the tree changes it. When the stamp
  changes, the schema is inferred again (one job), the files are listed
  again and the row-group counts below are read again. Off the local file
  system (HDFS, object stores) a directory's stamp cannot be trusted to
  move, so the files are listed on every call and only the schema is
  kept.
* ``skipping_read`` and ``zone_read`` read, with that schema (no schema
  job), every table file the index cannot rule out: the survivors, and
  the files the index does not cover because they came after it. Files
  gone from the table are not read.
* The exact re-check of an IN-list is ``isin`` wherever the Parquet
  reader can use it: pushed into the scan, it skips the row groups of a
  surviving file whose statistics or dictionaries hold none of the keys,
  which is where a large or clustered file pays. ``isin`` inlines each
  number, though, and every new list of numbers compiled a new class. So
  when each file read holds one row group (its footer, read once per
  table stamp, says so), row-group pruning could only drop a whole file,
  the index's own job, and numbers go in one ``array_contains``
  literal instead, which generated code keeps as one reference object:
  one plan shape compiles once. Strings are held by reference either way,
  and keep ``isin``.
"""

from __future__ import annotations

import os
import stat
import threading
import weakref
from collections import OrderedDict
from functools import partial
from typing import NamedTuple
from urllib.parse import unquote, urlparse

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, IntegralType, NumericType, StructType

from ..functions.filters import _format_of, build_filter
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


def key_hashes(
    spark: SparkSession, values: list, dtype: DataType | None = None
) -> np.ndarray:
    """Hash probe values with the SAME hash the index used (Spark
    xxhash64, seed 42, integral keys widened to bigint). Given the key
    column's ``dtype``, values hash as that type, as the index hashed them:
    the string "2024-01-02" looked up in a date column hashes as the date.
    Integer values that fit in int64 hash locally when the key column is
    integral or its type is not given (`_xxhash64_longs` — zero Spark
    jobs, the common literal-IN-list shape); other values take the
    tiny-DataFrame round trip, cast to the key type there, so the parity
    guarantee stays expression-level. A value the key type cannot hold
    (an int outside int64, a string that is no date) becomes NULL there;
    it matches no row, so what it prunes loses nothing."""
    integral = dtype is None or isinstance(dtype, IntegralType)
    if integral and values and all(
        isinstance(v, int) and not isinstance(v, bool) and not _outside_int64(v)
        for v in values
    ):
        return _xxhash64_longs(values)
    v = F.col("v")
    if dtype is not None:
        v = v.try_cast("long" if integral else dtype)
    vdf = spark.createDataFrame([(x,) for x in values], ["v"])
    rows = vdf.select(spark_hash64(v).alias("h")).collect()
    return np.array([r["h"] for r in rows], dtype=np.int64).view(np.uint64)


# -- index handle and table cache ---------------------------------------------


def _local(f: str) -> str | None:
    """The OS path of a file on the local file system, given as a plain path
    or a ``file:`` URI; None for another scheme. ``input_file_name`` and
    ``inputFiles`` give percent-encoded URIs (``file:///a%20b/...``)."""
    u = unquote(f)
    scheme = urlparse(u).scheme
    if scheme == "file":
        return "/" + u[5:].lstrip("/")
    return u if scheme == "" else None


def _key(f: str) -> str:
    """One spelling of a file's name, to match index rows to table files."""
    return _local(f) or unquote(f)


def _stat(spark: SparkSession, f: str):
    """(mtime, length) of a file, None when it is gone."""
    local = _local(f)
    try:
        if local is not None:
            st = os.stat(local)
            return st.st_mtime_ns, st.st_size
        p = spark._jvm.org.apache.hadoop.fs.Path(unquote(f))
        st = p.getFileSystem(spark._jsc.hadoopConfiguration()).getFileStatus(p)
        return st.getModificationTime(), st.getLen()
    except (OSError, Py4JJavaError):
        return None


def _tree_stamp(path: str):
    """The stamp of a local table: (path, mtime, length, entry names) of
    its root and of every directory below it, so adding or removing a file
    anywhere changes it. None off the local file system, or when the path
    cannot be stat'ed (a glob)."""
    top = _local(path)
    if top is None:
        return None
    out, todo = [], [top]
    try:
        while todo:
            d = todo.pop()
            st = os.stat(d)
            names, subdirs = (), []
            if stat.S_ISDIR(st.st_mode):
                with os.scandir(d) as it:
                    entries = sorted((e.name, e.is_dir()) for e in it)
                names = tuple(n for n, _ in entries)
                subdirs = [os.path.join(d, n) for n, is_dir in entries if is_dir]
            out.append((d, st.st_mtime_ns, st.st_size, names))
            todo += subdirs
    except OSError:
        return None
    return tuple(out)


class _Table(NamedTuple):
    """A parquet table's schema and files, valid while ``stamp`` holds."""

    stamp: tuple | None
    schema: StructType
    files: list
    groups: dict  # file -> row groups in it, read from its footer when first read


# table path -> _Table, for the most recently read tables, the latest last
_TABLES: "OrderedDict[str, _Table]" = OrderedDict()
_TABLES_MAX = 64
_LOCK = threading.Lock()  # guards _TABLES and _HANDLES


def _table(spark: SparkSession, path: str) -> _Table:
    """The parquet table at ``path``, kept while its stamp holds. A table
    without a stamp (not on the local file system) keeps its schema and is
    listed again on every call."""
    stamp = _tree_stamp(path)
    with _LOCK:
        hit = _TABLES.get(path)
        if hit is not None:
            _TABLES.move_to_end(path)
    if hit is not None and stamp is not None and hit.stamp == stamp:
        return hit
    if hit is None or stamp is not None:
        df = spark.read.parquet(path)  # infers the schema: one job
    else:
        df = spark.read.schema(hit.schema).parquet(path)
    entry = _Table(stamp, df.schema, df.inputFiles(), {})
    with _LOCK:
        _TABLES[path] = entry
        _TABLES.move_to_end(path)
        if len(_TABLES) > _TABLES_MAX:
            _TABLES.popitem(last=False)  # the table read longest ago
    return entry


def _row_groups(table: _Table, f: str) -> int | None:
    """Row groups in the table's file ``f``, from its footer (read once per
    table stamp); None when it cannot be read, or is not on the local file
    system."""
    if f not in table.groups:
        local = _local(f)
        try:
            n = None if local is None else pq.read_metadata(local).num_row_groups
        except (OSError, pa.ArrowException):
            n = None
        table.groups[f] = n
    return table.groups[f]


class _State(NamedTuple):
    """One collect of an index: its rows, the files it covers and, per
    filter column, each file's probe built from these rows. Valid while
    ``stamp`` (the (mtime, length) of each of the index's files) holds."""

    stamp: tuple
    rows: list
    covered: frozenset
    probes: dict

    def filters(self, filter_col: str) -> list:
        """(file, probe) per file whose filter holds any key."""
        if filter_col not in self.probes:
            blobs = ((r["file"], bytes(r[filter_col])) for r in self.rows)
            self.probes[filter_col] = [
                (f, partial(_format_of(b).probe, b)) for f, b in blobs if len(b)
            ]
        return self.probes[filter_col]


class _Handle:
    """What the lookups through one index DataFrame share: its latest state,
    swapped whole when the index's files change."""

    def __init__(self, inputs: list):
        self.inputs, self.lock, self.state = inputs, threading.Lock(), None

    def refresh(self, index: DataFrame) -> _State:
        stamp = tuple(_stat(index.sparkSession, f) for f in self.inputs)
        with self.lock:  # one collect when threads share an index
            if self.state is None or stamp != self.state.stamp:
                rows = index.collect()  # metadata-scale: one row per file
                covered = frozenset(_key(r["file"]) for r in rows)
                self.state = _State(stamp, rows, covered, {})
            return self.state


_HANDLES: "weakref.WeakKeyDictionary[DataFrame, _Handle]" = weakref.WeakKeyDictionary()
# per thread: (index, the state its last pruning read), until a read takes it
_LAST = threading.local()


def _state(index: DataFrame) -> _State:
    """The index's state, collected again if the index's files changed."""
    with _LOCK:
        h = _HANDLES.get(index)
        if h is None:
            h = _HANDLES[index] = _Handle(index.inputFiles())
    state = h.refresh(index)
    _LAST.seen = (weakref.ref(index), state)
    return state


def _read(
    spark: SparkSession, path: str, table: _Table, index: DataFrame, survivors: list
) -> tuple[DataFrame, list]:
    """The table's files that the index did not rule out: its survivors and
    the files it does not cover, read with the table's schema; and the list
    of those files."""
    # the files covered by the state the pruning read, so that a file a
    # newer state covers is not left out as neither survivor nor uncovered
    seen, _LAST.seen = getattr(_LAST, "seen", None), None
    state = seen[1] if seen is not None and seen[0]() is index else _state(index)
    keep = {_key(f) for f in survivors}
    files = table.files
    read = [f for f in files if _key(f) in keep or _key(f) not in state.covered]
    if not read:
        return _empty(spark, path, table.schema), read
    reader = spark.read.schema(table.schema)
    if len(read) == len(files):
        return reader.parquet(path), read
    if not any(c in path for c in "*?[{"):  # a root, not a glob
        reader = reader.option("basePath", path)  # finds partition columns
    return reader.parquet(*sorted(unquote(f) for f in read)), read


def _empty(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """No rows, with the table's schema: planned as an empty local relation
    (one job to count it, where an empty ``createDataFrame`` takes two)."""
    return spark.read.schema(schema).parquet(path).where(F.lit(False))


def _col_type(
    schema: StructType, col: str, df: DataFrame | None = None
) -> DataType | None:
    """The type of column ``col`` of a table whose schema is ``schema``. A
    column that is no top-level field resolves against ``df``, the table
    read with that schema, and is None without it."""
    fields = {f.name: f.dataType for f in schema.fields}
    if col in fields or df is None:
        return fields.get(col)
    return df.select(col).schema[0].dataType


def _in_values(col: str, dtype: DataType, values: list, pushdown: bool) -> Column:
    """``col IN values`` over non-NULL values. ``isin`` is pushed into the
    Parquet reader, which skips row groups by their statistics and
    dictionaries, but it inlines each number, so every new list of numbers
    compiles a new class (strings are held by reference and compile once).
    Without ``pushdown``, numbers against a numeric column go in one array
    literal instead: generated code holds it as one reference object, so
    one plan shape compiles once."""
    num = isinstance(dtype, NumericType) and all(
        isinstance(v, (int, float)) and not isinstance(v, bool) for v in values
    )
    if num and not pushdown:
        return F.array_contains(F.array(*map(F.lit, values)), F.col(col))
    return F.col(col).isin(values)


# -- lookups --------------------------------------------------------------------


def prune_files(
    index: DataFrame, hashes: np.ndarray, filter_col: str = "filter"
) -> list[str]:
    """Files that MAY contain any of the hashed keys (no false negatives:
    a pruned file definitely contains none of them). Files the index does
    not cover are not listed; ``skipping_read`` reads them anyway."""
    return sorted(
        f for f, probe in _state(index).filters(filter_col) if bool(probe(hashes).any())
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
    index cannot rule out, and every file it does not cover. Exact: the
    final ``key_col IN values`` re-checks survivors (bloom FPs cost I/O,
    never correctness). NULLs match nothing, so an empty or all-NULL list
    reads no row. Over an integral key column, ints outside int64 match no
    row and are left out of it (Spark cannot make a literal of them)."""
    values = [v for v in values if v is not None]
    table = _table(spark, path)
    if not values:
        return _empty(spark, path, table.schema)
    if index is None:
        index = build_file_index(spark, path, [key_col], kind, **filter_kw)
    hashes = key_hashes(spark, values, _col_type(table.schema, key_col))
    df, read = _read(spark, path, table, index, prune_files(index, hashes))
    dtype = _col_type(table.schema, key_col, df)
    if isinstance(dtype, IntegralType):
        values = [v for v in values if not _outside_int64(v)]
        if not values:
            return _empty(spark, path, table.schema)
    # row-group pruning pays only inside a file of several row groups
    pushdown = not all(_row_groups(table, f) in (0, 1) for f in read)
    return df.where(_in_values(key_col, dtype, values, pushdown))


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
    return prune_files_multi(zone_index, [(col, lo, hi)])


def zone_read(
    spark: SparkSession,
    path: str,
    col: str,
    lo=None,
    hi=None,
    zone_index: DataFrame | None = None,
) -> DataFrame:
    """``SELECT * FROM path WHERE col BETWEEN lo AND hi`` reading only
    files the zone map cannot rule out, and every file it does not cover;
    the exact predicate re-checks survivors, so the result is
    full-scan-identical. On a range-ordered layout
    (``make_file_partitioned_copy``) this prunes to ~range-width/file-width
    of the files."""
    table = _table(spark, path)
    if zone_index is None:
        zone_index = build_zone_index(spark, path, [col])
    df, _ = _read(spark, path, table, zone_index, prune_files_range(zone_index, col, lo, hi))
    pred = F.lit(True)
    if lo is not None:
        pred = pred & (F.col(col) >= lo)
    if hi is not None:
        pred = pred & (F.col(col) <= hi)
    return df.where(pred)


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
    current = set(_table(spark, path).files)
    old_rows = _state(old_index).rows  # metadata-scale
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
    out = []
    for r in _state(zone_index).rows:
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
