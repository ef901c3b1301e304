"""Spark-facing hash functions.

* ``spark_hash64(*cols)`` — the engine's recommended native hash: Spark's
  built-in ``xxhash64`` (JVM-side, whole-stage-codegen, zero Python cost).
  Use it for own filters when cross-engine hash parity isn't required —
  this is the 100 TB hot path.
* ``duckdb_hash(version, *cols)`` — the reference's
  ``bitfilters_duckdb_hash(version, value, ...)``
  (``bitfilters_duckdb_bloom_filter.cpp:283-303``): bit-exact DuckDB hash
  for a pinned version, multi-column via CombineHash. Arrow-native UDF over
  the numpy kernels (wrapping u64 arithmetic can't live in ANSI Column
  expressions). Returns the u64 hash as its two's-complement i64.

NULL semantics match the reference's scalar-function behavior
(``test/sql/duckdb_bloom_filter.test:137-139``): NULL input → NULL hash,
and for multi-column any NULL argument nulls the combined hash.

The UDFs are ``arrow_udf`` (pyarrow arrays in/out), NOT ``pandas_udf``:
Arrow→pandas converts an int64 column containing any null to float64,
which silently rounds 64-bit hash values (53-bit mantissa) and mis-routes
type dispatch. pyarrow arrays keep the declared type plus an exact null
mask, so a nullable key column hashes identically to a non-null one.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

from ..core import hashing as H


def spark_hash64(*cols) -> Column:
    """Native JVM xxhash64 over one or more columns (codegen fast path)."""
    return F.xxhash64(*[F.col(c) if isinstance(c, str) else c for c in cols])


def key_hash64(df: DataFrame, *cols: str) -> Column:
    """``spark_hash64`` of ``df``'s key columns, with byte/short/int columns
    widened to bigint first. ``xxhash64`` hashes an int as 4 bytes and a
    bigint as 8, while a join compares the two as equal values; hashing the
    widened value gives equal keys of either width the same hash, which is
    also the hash of the value as a Python int (``sources.skipping``'s
    local XXH64 of a long). Use it on both sides of every filter that
    stands in for a join on these keys."""
    narrow = (ByteType, ShortType, IntegerType)
    return spark_hash64(*[
        F.col(c).cast("long") if isinstance(df.schema[c].dataType, narrow) else F.col(c)
        for c in cols
    ])


def _hash_arrow(a: "pa.Array", version: str) -> tuple[np.ndarray, np.ndarray]:
    """Hash one pyarrow array with the DuckDB algorithm for its declared
    type. Returns (uint64 hashes, null mask); masked rows hold hash 0 and
    must be nulled (or dropped) by the caller."""
    if isinstance(a, pa.ChunkedArray):
        a = a.combine_chunks()
    null_mask = np.asarray(a.is_null())
    t = a.type
    if pa.types.is_boolean(t) or pa.types.is_integer(t):
        v = pc.fill_null(a, 0).cast(pa.int64()).to_numpy()
        narrow = pa.types.is_boolean(t) or t.bit_width <= 32
        h = H.hash_int_narrow(v) if narrow else H.hash_int64(v)
    elif pa.types.is_float32(t):
        h = H.hash_float32(a.to_numpy(zero_copy_only=False))  # nulls→NaN, masked out
    elif pa.types.is_floating(t):
        h = H.hash_float64(a.to_numpy(zero_copy_only=False))
    elif pa.types.is_timestamp(t):
        micros = pc.fill_null(a.cast(pa.int64()), 0).to_numpy()
        scale = {"s": 1_000_000, "ms": 1_000, "us": 1, "ns": None}[t.unit]
        micros = micros // 1000 if scale is None else micros * scale
        h = H.hash_int64(micros)  # DuckDB TIMESTAMP hashes its micros
    elif pa.types.is_date(t):
        days = pc.fill_null(a.cast(pa.int32() if t == pa.date32() else pa.int64()), 0)
        h = H.hash_int_narrow(days.cast(pa.int64()).to_numpy())
    elif (
        pa.types.is_string(t)
        or pa.types.is_large_string(t)
        or pa.types.is_binary(t)
        or pa.types.is_large_binary(t)
    ):
        # zero-copy fast path: hash straight from the Arrow flat buffer +
        # offsets (UTF-8 bytes are exactly what DuckDB hashes) — no
        # to_pylist / per-row encode loop
        wide = pa.types.is_large_string(t) or pa.types.is_large_binary(t)
        bufs = a.buffers()
        odt = np.int64 if wide else np.int32
        off = np.frombuffer(bufs[1], dtype=odt)[a.offset : a.offset + len(a) + 1]
        dat = (
            np.frombuffer(bufs[2], dtype=np.uint8)
            if bufs[2] is not None
            else np.zeros(0, dtype=np.uint8)
        )
        words, lens = H.pack_flat_to_words(dat, off)
        h = H.hash_words(words, lens, version=version)
    else:
        raise TypeError(f"duckdb_hash: unsupported column type {t}")
    if null_mask.any():
        h = h.copy()
        h[null_mask] = np.uint64(0)
    return h, null_mask


def _hash_arrays(arrays, version: str) -> tuple[np.ndarray, np.ndarray]:
    """CombineHash across columns; null if ANY argument is null."""
    h, m = _hash_arrow(arrays[0], version)
    for a in arrays[1:]:
        h2, m2 = _hash_arrow(a, version)
        h = H.combine_hash(h, h2)
        m = m | m2
    return h, m


def duckdb_hash(version: str, *cols) -> Column:
    """DuckDB-version-exact hash of one or more columns, as signed i64.
    NULL input (any argument) → NULL output, like the reference scalar."""
    H._string_algo(version)  # validate version eagerly (bind-time, like the reference)
    if not cols:
        raise ValueError("duckdb_hash requires at least one value column")

    @arrow_udf(LongType())
    def _h(*arrays: pa.Array) -> pa.Array:
        h, m = _hash_arrays(arrays, version)
        return pa.array(h.view(np.int64), type=pa.int64(), mask=m)

    return _h(*[F.col(c) if isinstance(c, str) else c for c in cols])
