"""Streaming Kneser–Ney LM statistics (the CCNet perplexity gate, live):
keep the KN model's sufficient statistics current as a crawl lands, so
`operators/lm.kn_score` always scores against everything ever streamed.

Why this streams at all: the KN model derives ENTIRELY from two additive
tables — bigram-type counts (hp, hc, cb) and token counts (h, c_tok).
Addition commutes with the per-batch aggregation, so each micro-batch
appends its OWN counts as parquet partial rows (distributed writes — the
gram tables are vocabulary-scale and never cross the driver, unlike the
fixed-size `streaming/dsir.py` vectors) and `streaming_kn_model` folds
the partials with one groupBy-sum before handing them to the SAME
derivation `train_kn_lm` uses (`kn_model_from_type_tables`), so batch and
streamed models cannot diverge arithmetically — pinned by a pytest
comparing a 3-batch fold against one batch train over the union.

Exactly-once per batch via `state_io.once_per_batch`'s batch-id
markers: a crash-replayed batch no-ops when its marker exists; the honest
residual is one batch's double-append when the crash lands between the
parquet write and the marker write (at-least-once for exactly that
batch). Both tables are additive partial tables of the fold store
(`state_io.append_partials` / `read_partials` / `compact_partials`):
partial file-sets accumulate per batch, model builds fold them anyway,
and a periodic `compact_kn_state` rewrites each directory to its folded
rows (model-identical before/after).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.lm import _bigram_structs, kn_model_from_type_tables
from ..operators.text import tokens
from . import state_io

__all__ = [
    "streaming_kn_stats",
    "kn_stats_fold",
    "streaming_kn_model",
    "compact_kn_state",
]

# (directory, group keys, summed columns) of the two additive tables
_TABLES = (("bigrams", ["hp", "hc"], ["cb"]), ("unigrams", ["h"], ["c_tok"]))


def _batch_tables(df: DataFrame, text_col: str) -> tuple[DataFrame, DataFrame]:
    seq = df.select(
        F.transform(tokens(text_col), lambda t: F.xxhash64(t)).alias("hs")
    )
    bi = (
        seq.select(F.explode(_bigram_structs(F.col("hs"))).alias("g"))
        .groupBy(F.col("g.hp").alias("hp"), F.col("g.hc").alias("hc"))
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    uni = (
        seq.select(F.explode("hs").alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("c_tok"))
    )
    return bi, uni


def kn_stats_fold(text_col: str, state_path: str, marker_path: str):
    """The ``foreachBatch`` function itself (exposed so tests can replay
    a batch id): append the batch's bigram/token count partials, exactly
    once per batch id."""

    def apply(batch_df: DataFrame) -> None:
        for (name, _, _), df in zip(_TABLES, _batch_tables(batch_df, text_col)):
            state_io.append_partials(df, f"{state_path}/{name}")

    return state_io.once_per_batch(marker_path, apply)


def streaming_kn_stats(
    stream: DataFrame, text_col: str, state_path: str, marker_path: str
):
    """foreachBatch writer folding each micro-batch's KN sufficient
    statistics into ``state_path``::

        q = streaming_kn_stats(docs_stream, "text", state, markers) \\
            .option("checkpointLocation", ckpt).start()

    Single-writer contract (one stats stream per state path), like the
    index maintenance sinks."""
    return stream.writeStream.outputMode("update").foreachBatch(
        kn_stats_fold(text_col, state_path, marker_path)
    )


def streaming_kn_model(
    spark: SparkSession,
    state_path: str,
    vocab_size: int = 1 << 16,
    discount: float | None = None,
) -> dict | None:
    """The current KN model over everything streamed so far — the exact
    `train_kn_lm` dict (feed it to `kn_score`/`perplexity_buckets`
    unchanged), or None before the first fold. One groupBy-sum over the
    accumulated partials, then the shared derivation."""
    bi, uni = (
        state_io.read_partials(spark, f"{state_path}/{name}", keys, sums)
        for name, keys, sums in _TABLES
    )
    if bi is None or uni is None:
        return None
    return kn_model_from_type_tables(
        bi.localCheckpoint(eager=False),
        uni.localCheckpoint(eager=False),
        vocab_size,
        discount,
    )


def compact_kn_state(spark: SparkSession, state_path: str) -> dict:
    """Rewrite each table's accumulated per-batch partial file-sets as its
    folded rows, through the fold store's crash-safe swap
    (`state_io.compact_partials`). Model-identical before/after — the
    counts are additive, summing partials early changes nothing. Returns
    the two tables' summed ``{"files_before", "files_after",
    "rows_before", "rows_after"}``."""
    a, b = (
        state_io.compact_partials(spark, f"{state_path}/{name}", keys, sums)
        for name, keys, sums in _TABLES
    )
    return {k: a[k] + b[k] for k in a}
