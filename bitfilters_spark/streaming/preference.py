"""Streaming preference-data statistics: keep the length-bias audit
(`operators/preference.length_bias_report`) current as pairs land.

The report is six ADDITIVE counters (pair/ok/longer/tied counts and the
ok-pairs' len_delta sum), so each micro-batch appends ONE tiny partial
row to an additive partial table of the fold store
(`state_io.append_partials` at its smallest — a 6-column parquet row per
batch, no compaction needed at any realistic batch count; fold cost is
O(batches) over ~48-byte rows) and the live report is one sum over the
partials (`state_io.read_partials` with no group keys).
`mean_len_delta` is derived from the folded sum/count by the same single
division the batch aggregate ends with, so batch and streamed reports
are EXACTLY equal — pinned by a pytest comparing a 3-batch fold against
`length_bias_report` on the union.

Exactly-once per batch via `state_io.once_per_batch`'s
batch-id markers, same residual as every fold in this package (a crash
between the parquet write and the marker write replays that one batch
at-least-once).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.preference import preference_stats
from . import state_io

__all__ = [
    "streaming_preference_stats",
    "preference_stats_fold",
    "streaming_preference_report",
]

_COLS = (
    "n_pairs", "n_ok", "n_chosen_longer", "n_rejected_longer",
    "n_len_tied", "sum_len_delta_ok",
)


def _batch_partial(
    df: DataFrame, prompt_col: str, chosen_col: str, rejected_col: str
) -> DataFrame:
    s = preference_stats(df, prompt_col, chosen_col, rejected_col)
    ok = F.col("pref_ok")
    return s.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(ok.cast("long")).alias("n_ok"),
        F.sum((ok & (F.col("len_delta") > 0)).cast("long")).alias(
            "n_chosen_longer"
        ),
        F.sum((ok & (F.col("len_delta") < 0)).cast("long")).alias(
            "n_rejected_longer"
        ),
        F.sum((ok & (F.col("len_delta") == 0)).cast("long")).alias(
            "n_len_tied"
        ),
        F.sum(F.when(ok, F.col("len_delta")).otherwise(F.lit(0))).alias(
            "sum_len_delta_ok"
        ),
    )


def preference_stats_fold(
    state_path: str,
    marker_path: str,
    prompt_col: str = "prompt",
    chosen_col: str = "chosen",
    rejected_col: str = "rejected",
):
    """The ``foreachBatch`` function itself (exposed so tests can replay
    a batch id): append the batch's six-counter partial, exactly once
    per batch id."""

    def apply(batch_df: DataFrame) -> None:
        state_io.append_partials(
            _batch_partial(batch_df, prompt_col, chosen_col, rejected_col),
            f"{state_path}/partials",
        )

    return state_io.once_per_batch(marker_path, apply)


def streaming_preference_stats(
    stream: DataFrame,
    state_path: str,
    marker_path: str,
    prompt_col: str = "prompt",
    chosen_col: str = "chosen",
    rejected_col: str = "rejected",
):
    """foreachBatch writer folding each micro-batch's preference
    counters into ``state_path``::

        q = streaming_preference_stats(pairs_stream, state, markers) \\
            .option("checkpointLocation", ckpt).start()

    Single-writer contract (one stats stream per state path)."""
    return stream.writeStream.outputMode("update").foreachBatch(
        preference_stats_fold(
            state_path, marker_path, prompt_col, chosen_col, rejected_col
        )
    )


def streaming_preference_report(
    spark: SparkSession, state_path: str
) -> DataFrame | None:
    """The current one-row length-bias report over everything streamed
    so far — `length_bias_report`'s exact columns (mean_len_delta from
    the folded integer sum by the same one division), or None before
    the first fold. Missing state means "no pairs yet"; any OTHER read
    failure propagates (`state_io.read_partials`)."""
    folded = state_io.read_partials(spark, f"{state_path}/partials", [], _COLS)
    if folded is None:
        return None
    return folded.select(
        "n_pairs", "n_ok", "n_chosen_longer", "n_rejected_longer",
        "n_len_tied",
        F.when(
            F.col("n_ok") > 0,
            F.col("sum_len_delta_ok").cast("double")
            / F.col("n_ok").cast("double"),
        ).alias("mean_len_delta"),
    )
