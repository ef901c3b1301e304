"""Streaming fold of the CDC chunk-count statistic — the corpus-wide
chunk-duplication picture stays current as a crawl lands.

The per-chunk-hash (n, bytes) table is ADDITIVE over documents (chunking
never crosses a document boundary), so it is an additive partial table
of the fold store (`state_io.append_partials` / `read_partials` /
`compact_partials`): each batch appends its own (chunk_hash, n, bytes)
partial as parquet rows (distributed writes — the chunk table is
hash-vocabulary-scale and never crosses the driver), and any read folds
the partials with one groupBy-sum. A 3-batch fold equals one
`cdc_chunks` pass over the union (pinned in pytest), so streamed and
batch dup accounting cannot diverge.

Exactly-once per batch via `state_io.once_per_batch`'s batch-id
markers: a crash-replayed batch no-ops when its marker exists; the
honest residual is one batch's double-append when the crash lands
between the parquet write and the marker write (at-least-once for
exactly that batch). Partial file-sets accumulate per batch;
:func:`compact_cdc_stats` rewrites them to their folded rows
(fold-identical before/after, crash-safe through the store's
rename-aside swap)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cdc import cdc_chunks
from . import state_io

__all__ = [
    "cdc_stats_fold",
    "streaming_cdc_stats",
    "streaming_chunk_counts",
    "streaming_cdc_dup_report",
    "compact_cdc_stats",
]

# group keys and summed columns of the chunk table
_FOLD = (["chunk_hash"], ["n", "bytes"])


def cdc_stats_fold(
    id_col: str,
    text_col: str,
    state_path: str,
    marker_path: str,
    min_size: int = 64,
    avg_size: int = 256,
    max_size: int = 1024,
):
    """The ``foreachBatch`` function itself (exposed so tests can replay
    a batch id): append the batch's (chunk_hash, n, bytes) partial,
    exactly once per batch id. The partial is UNCAPPED and per-hash —
    any thresholding is a query-time concern, never baked into state."""

    def apply(batch_df: DataFrame) -> None:
        chunks = cdc_chunks(
            batch_df, id_col, text_col, min_size, avg_size, max_size,
            keep_bytes=False,
        )
        state_io.append_partials(
            chunks.groupBy("chunk_hash").agg(
                F.count(F.lit(1)).alias("n"), F.sum("length").alias("bytes")
            ),
            f"{state_path}/chunks",
        )

    return state_io.once_per_batch(marker_path, apply)


def streaming_cdc_stats(
    stream: DataFrame,
    id_col: str,
    text_col: str,
    state_path: str,
    marker_path: str,
    min_size: int = 64,
    avg_size: int = 256,
    max_size: int = 1024,
):
    """foreachBatch writer folding each micro-batch's chunk counts into
    ``state_path``::

        q = streaming_cdc_stats(docs_stream, "doc_id", "text", state,
                                markers) \\
            .option("checkpointLocation", ckpt).start()

    Single-writer contract (one stats stream per state path)."""
    return stream.writeStream.outputMode("update").foreachBatch(
        cdc_stats_fold(
            id_col, text_col, state_path, marker_path,
            min_size, avg_size, max_size,
        )
    )


def streaming_chunk_counts(
    spark: SparkSession, state_path: str
) -> DataFrame | None:
    """The folded (chunk_hash, n, bytes) table over everything streamed
    so far — exactly the chunk-hash counts of `cdc_chunks` over the
    streamed union — or None before the first fold. Missing state means
    "no chunks yet"; any OTHER read failure propagates."""
    return state_io.read_partials(spark, f"{state_path}/chunks", *_FOLD)


def streaming_cdc_dup_report(
    spark: SparkSession, state_path: str
) -> DataFrame | None:
    """One row of corpus-wide chunk-dedup accounting over everything
    streamed so far: total/unique chunk counts and the byte mass a
    chunk-level dedup would save. Equal chunk bytes imply equal length,
    so a hash's unique byte mass is bytes/n (exact integer — bytes is
    n * length by construction)."""
    counts = streaming_chunk_counts(spark, state_path)
    if counts is None:
        return None
    return counts.agg(
        F.sum("n").alias("n_chunks"),
        F.count(F.lit(1)).alias("n_unique_chunks"),
        (F.sum("n") - F.count(F.lit(1))).alias("n_dup_chunks"),
        F.sum("bytes").alias("total_bytes"),
        F.sum(F.col("bytes") - F.col("bytes") / F.col("n"))
        .cast("long")
        .alias("dup_bytes"),
    )


def compact_cdc_stats(spark: SparkSession, state_path: str) -> dict:
    """Rewrite the accumulated per-batch partial file-sets as their
    folded rows (fold-identical), through the fold store's crash-safe
    swap (`state_io.compact_partials`). Returns ``{"rows_before": n,
    "rows_after": n, ...}``."""
    return state_io.compact_partials(spark, f"{state_path}/chunks", *_FOLD)
