"""Spark surface for the bottom-k hash sample sketch (``core/bksample``):
a mergeable uniform row sample with payload per group, plus plug-in
quantile probes.

Build is the sketch family's two-phase shape (the 100 TB path): one
``mapInArrow`` pass folds per-partition partial sketches per group —
so the shuffle carries #partitions × #groups blobs of at most
``12 + 16k`` bytes, never rows — then a per-group merge reduces them.
``merge(build(A), build(B)) == build(A ∪ B)`` byte-exact, so sketches
also roll up hierarchies (per-file → partition → global) via
``bks_merge`` without rescanning.

Use it where a 100 TB group needs a reproducible value profile without
a sort: corpus length distributions, per-domain date ranges, "show me
50 uniform example rows of this group".  Deterministic: an external
engine reproduces the sample (rank rows by the same key hash) and the
nearest-rank quantiles exactly.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StructField, StructType

from ..core import bksample as BK
from .filters import _group_codes


def bottomk_sample(
    df: DataFrame,
    group_cols: list,
    hash_col: str,
    value_col: str,
    k: int = 128,
    filter_col: str = "sample",
) -> DataFrame:
    """One BKS1 blob per group: the ``(hash, value)`` pairs whose key
    hash ranks in the group's k smallest.  ``hash_col`` must be i64
    (two's-complement u64, e.g. ``spark_hash64`` / ``duckdb_hash`` of a
    UNIQUE row key), ``value_col`` any integer-castable payload.  Rows
    with a NULL hash or value are skipped (aggregate NULL semantics); a
    NULL group key is a group of its own, as in ``build_filter``.
    ``group_cols=[]`` builds one global sketch."""
    dummy = not group_cols
    if dummy:
        df = df.withColumn("__g", F.lit(0))
        group_cols = ["__g"]
    proj = df.select(
        *group_cols,
        F.col(hash_col).cast("long").alias("__h"),
        F.col(value_col).cast("long").alias("__v"),
    ).where(F.col("__h").isNotNull() & F.col("__v").isNotNull())
    gfields = [proj.schema[c] for c in group_cols]
    out_schema = StructType(gfields + [StructField(filter_col, BinaryType())])

    def partials(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # group keys are factorized in Arrow: pandas would turn a bigint
        # column holding a NULL into float64 and drop the NULL group
        acc: dict = {}
        key_types = None
        for batch in batches:
            key_types = [batch.schema.field(c).type for c in group_cols]
            codes, keys = _group_codes(
                [batch.column(c) for c in group_cols], batch.num_rows
            )
            hs = batch.column("__h").to_numpy(zero_copy_only=False).view(np.uint64)
            vs = batch.column("__v").to_numpy(zero_copy_only=False)
            for code, key in enumerate(keys):
                m = codes == code
                h, v = BK._reduce(hs[m], vs[m], k)
                prev = acc.get(key)
                if prev is not None:
                    h, v = BK._reduce(
                        np.concatenate([prev[0], h]),
                        np.concatenate([prev[1], v]),
                        k,
                    )
                acc[key] = (h, v)
        if acc:
            rows = [(*key, BK.bks_serialize(k, h, v)) for key, (h, v) in acc.items()]
            types = key_types + [pa.binary()]
            yield pa.RecordBatch.from_arrays(
                [pa.array(list(c), t) for c, t in zip(zip(*rows), types)],
                names=out_schema.names,
            )

    partial_df = proj.mapInArrow(partials, schema=out_schema)

    def merge(t: pa.Table) -> pa.Table:
        blob = BK.bks_merge(t[filter_col].to_pylist())
        i = t.schema.get_field_index(filter_col)
        return t.slice(0, 1).set_column(i, t.schema.field(i), pa.array([blob], pa.binary()))

    out = partial_df.groupBy(*group_cols).applyInArrow(merge, schema=out_schema)
    return out.drop("__g") if dummy else out


def bks_quantile_col(filter_col, q: float) -> Column:
    """Nearest-rank quantile of a sketch column's sampled values (long,
    null for an empty sketch)."""

    @F.pandas_udf("long")
    def probe(blobs: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None if b is None else BK.bks_quantile(bytes(b), q)
                for b in blobs
            ],
            dtype="Int64",
        )

    return probe(F.col(filter_col) if isinstance(filter_col, str) else filter_col)


def bks_sample_size_col(filter_col) -> Column:
    """Number of kept rows m (long)."""

    @F.pandas_udf("long")
    def probe(blobs: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None
                if b is None
                else len(BK.bks_deserialize(bytes(b))[2])
                for b in blobs
            ],
            dtype="Int64",
        )

    return probe(F.col(filter_col) if isinstance(filter_col, str) else filter_col)
