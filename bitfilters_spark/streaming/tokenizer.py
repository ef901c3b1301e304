"""Streaming tokenizer statistics: keep the word-frequency table — the
ONE sufficient statistic both production tokenizer trainers consume
(`operators/bpe.train_bpe` and `operators/unigram.train_unigram` both
reduce the corpus to `word_frequencies` first) — current as a crawl
lands, so a fresh BPE or Unigram model is one fold away at any moment.

Word counts are ADDITIVE, so the table is an additive partial table of
the fold store (`state_io.append_partials` / `read_partials` /
`compact_partials`): each micro-batch appends its own (word, n) partial
as parquet rows (distributed writes — the word table is vocabulary-scale
and never crosses the driver in the fold), and a model build folds the
partials with one groupBy-sum before handing them to the SAME
derivations the batch trainers use (`bpe_model_from_word_counts`,
`train_unigram_from_words`) — so batch and streamed models cannot
diverge arithmetically; pinned by pytests comparing a 3-batch fold
against one batch train over the union, for BOTH tokenizer families.

Exactly-once per batch via `state_io.once_per_batch`'s
batch-id markers: a crash-replayed batch no-ops when its marker exists;
the honest residual is one batch's double-append when the crash lands
between the parquet write and the marker write (at-least-once for
exactly that batch). Partial file-sets accumulate per batch; model
builds fold them anyway, and a periodic :func:`compact_word_stats`
rewrites the directory to its folded rows (model-identical
before/after, crash-safe through the store's rename-aside swap).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.bpe import bpe_model_from_word_counts, word_frequencies
from ..operators.unigram import train_unigram_from_words
from . import state_io

__all__ = [
    "streaming_word_stats",
    "word_stats_fold",
    "streaming_word_frequencies",
    "streaming_bpe_model",
    "streaming_unigram_model",
    "compact_word_stats",
]


def word_stats_fold(text_col: str, state_path: str, marker_path: str):
    """The ``foreachBatch`` function itself (exposed so tests can replay
    a batch id): append the batch's (word, n) partial, exactly once per
    batch id. The per-batch reduction is `word_frequencies` UNCAPPED —
    the cap is a query-time concern (`streaming_word_frequencies`),
    never baked into the folded state (a capped partial would silently
    drop tail mass that later batches promote)."""

    def apply(batch_df: DataFrame) -> None:
        state_io.append_partials(
            word_frequencies(batch_df, text_col, top_words=None),
            f"{state_path}/words",
        )

    return state_io.once_per_batch(marker_path, apply)


def streaming_word_stats(
    stream: DataFrame, text_col: str, state_path: str, marker_path: str
):
    """foreachBatch writer folding each micro-batch's word counts into
    ``state_path``::

        q = streaming_word_stats(docs_stream, "text", state, markers) \\
            .option("checkpointLocation", ckpt).start()

    Single-writer contract (one stats stream per state path), like the
    index maintenance sinks."""
    return stream.writeStream.outputMode("update").foreachBatch(
        word_stats_fold(text_col, state_path, marker_path)
    )


def streaming_word_frequencies(
    spark: SparkSession, state_path: str, top_words: int | None = None
) -> DataFrame | None:
    """The folded (word, n) table over everything streamed so far —
    exactly `word_frequencies` of the streamed union — or None before
    the first fold. Missing state means "no words yet"; any OTHER read
    failure propagates (`state_io.read_partials`)."""
    agg = state_io.read_partials(spark, f"{state_path}/words", ["word"], ["n"])
    if agg is None or top_words is None:
        return agg
    return agg.orderBy(F.col("n").desc(), "word").limit(top_words)


def streaming_bpe_model(
    spark: SparkSession,
    state_path: str,
    num_merges: int = 1000,
    top_words: int | None = 200_000,
    min_pair_count: int = 2,
) -> dict | None:
    """The current BPE model over everything streamed so far — the
    exact `train_bpe` dict (feed it to `bpe_encode`/`bpe_token_counts`/
    `save_bpe_text` unchanged), or None before the first fold. One
    groupBy-sum over the accumulated partials, then the shared
    derivation."""
    words = streaming_word_frequencies(spark, state_path, top_words)
    if words is None:
        return None
    rows = words.collect()
    return bpe_model_from_word_counts(
        [(r["word"], r["n"]) for r in rows], num_merges, min_pair_count
    )


def streaming_unigram_model(
    spark: SparkSession,
    state_path: str,
    vocab_size: int = 8000,
    seed_size: int = 100_000,
    max_piece_len: int = 8,
    em_rounds: int = 2,
    shrink_factor: float = 0.75,
    top_words: int | None = 200_000,
    em: str = "hard",
) -> dict | None:
    """The current unigram-LM tokenizer over everything streamed so far
    — the exact `train_unigram` dict, or None before the first fold.
    The EM itself stays fully distributed (`train_unigram_from_words`
    over the folded table)."""
    words = streaming_word_frequencies(spark, state_path, top_words)
    if words is None:
        return None
    return train_unigram_from_words(
        words,
        vocab_size=vocab_size,
        seed_size=seed_size,
        max_piece_len=max_piece_len,
        em_rounds=em_rounds,
        shrink_factor=shrink_factor,
        em=em,
    )


def compact_word_stats(spark: SparkSession, state_path: str) -> dict:
    """Rewrite the accumulated per-batch partial file-sets as the folded
    (word, n) rows, through the fold store's crash-safe swap
    (`state_io.compact_partials`). Returns ``{"rows_before": n,
    "rows_after": n, ...}`` (the row count collapse is the observable;
    the file counts ride along)."""
    return state_io.compact_partials(
        spark, f"{state_path}/words", ["word"], ["n"]
    )
