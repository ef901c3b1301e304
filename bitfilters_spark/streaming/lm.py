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
batch). Partial file-sets accumulate per batch; model builds fold them
anyway, and a periodic `compact_kn_state` rewrites the directories to one
aggregated file-set (model-identical before/after — same contract as
`compact_bm25_index`).
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
        spark = batch_df.sparkSession
        _heal(spark, state_path)
        bi, uni = _batch_tables(batch_df, text_col)
        bi.write.mode("append").parquet(f"{state_path}/bigrams")
        uni.write.mode("append").parquet(f"{state_path}/unigrams")

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


def _heal(spark: SparkSession, state_path: str) -> None:
    """Self-heal a compact interrupted between its two renames: if the
    live directory is missing but its ``__old`` sibling exists, the old
    state is still complete — rename it back before anything reads or
    appends (an append against a missing live dir would otherwise
    recreate it with only new batches, silently orphaning history)."""
    for name in ("bigrams", "unigrams"):
        live, old = f"{state_path}/{name}", f"{state_path}/{name}__old"
        if not state_io.exists(live, spark) and state_io.exists(old, spark):
            state_io.rename(old, live, spark)


def _folded_tables(
    spark: SparkSession, state_path: str
) -> tuple[DataFrame, DataFrame] | None:
    _heal(spark, state_path)
    # missing state means "no model yet"; any OTHER read failure
    # (permissions, corrupt files) must propagate, not masquerade as an
    # empty stream (ADVICE r11 — a blanket except here silently hid
    # transient errors)
    if not (
        state_io.exists(f"{state_path}/bigrams", spark)
        and state_io.exists(f"{state_path}/unigrams", spark)
    ):
        return None
    bi_raw = spark.read.parquet(f"{state_path}/bigrams")
    uni_raw = spark.read.parquet(f"{state_path}/unigrams")
    bi = bi_raw.groupBy("hp", "hc").agg(F.sum("cb").alias("cb"))
    uni = uni_raw.groupBy("h").agg(F.sum("c_tok").alias("c_tok"))
    return bi, uni


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
    tables = _folded_tables(spark, state_path)
    if tables is None:
        return None
    bi, uni = tables
    return kn_model_from_type_tables(
        bi.localCheckpoint(eager=False),
        uni.localCheckpoint(eager=False),
        vocab_size,
        discount,
    )


def compact_kn_state(spark: SparkSession, state_path: str) -> dict:
    """Rewrite the accumulated per-batch partial file-sets as ONE
    aggregated file-set per table. Crash-safe swap: the aggregate is
    staged, the live directory is renamed ASIDE (``__old``), the stage
    renamed in, and only then the old state deleted — a crash between
    the two renames leaves the live name briefly missing but the
    complete old state intact under ``__old``, and every reader/writer
    self-heals it back (:func:`_heal`); the old delete-then-rename
    order had a window where a crash orphaned ALL accumulated history.
    Model-identical before/after — the counts are additive, summing
    partials early changes nothing. Returns {"files_before": int,
    "files_after": int}."""
    tables = _folded_tables(spark, state_path)
    if tables is None:
        return {"files_before": 0, "files_after": 0}
    bi, uni = tables
    before = state_io.count_files(f"{state_path}/bigrams", spark) + (
        state_io.count_files(f"{state_path}/unigrams", spark)
    )
    # sever lineage from the files about to move
    bi_m = bi.localCheckpoint()
    uni_m = uni.localCheckpoint()
    for name, df in (("bigrams", bi_m), ("unigrams", uni_m)):
        live = f"{state_path}/{name}"
        stage, old = f"{live}__stage", f"{live}__old"
        state_io.delete(stage, spark)
        state_io.delete(old, spark)
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        state_io.rename(live, old, spark)
        state_io.rename(stage, live, spark)
        state_io.delete(old, spark)
    after = state_io.count_files(f"{state_path}/bigrams", spark) + (
        state_io.count_files(f"{state_path}/unigrams", spark)
    )
    return {"files_before": before, "files_after": after}
