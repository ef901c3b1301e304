"""Streaming DSIR raw-distribution counts → an always-current selection
model (#118).

`operators/dsir.fit_dsir` reduces each corpus to an n_buckets-row
multinomial — an ADDITIVE statistic, so the raw (crawl) side can stream:
each micro-batch's hashed-feature bucket counts fold into a persisted
int64 vector, a batch-keyed snapshot of the fold store
(`state_io.write_snapshot`). The TARGET distribution describes a small
fixed reference corpus, so it stays a batch computation;
`streaming_dsir_model` combines the live raw counts with the target at
read time into the same (bucket, log_ratio) model `dsir_weights` /
`dsir_select` consume — score today's crawl against everything ever
streamed, from any session, mid-stream.

Exactly-once: state is keyed by micro-batch id (``batch=<id>/`` holds
the fold of every batch up to it; replay overwrites with identical
content). All I/O is `state_io` (Hadoop FS — object-store URIs work),
and the per-batch driver materialization is ≤ n_buckets count rows —
the same metadata-scale contract as the classifier's gradient collect.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dsir import _feature_buckets
from . import state_io


def load_dsir_counts(state_path: str) -> np.ndarray | None:
    """int64[n_buckets] raw-feature counts folded over every micro-batch
    so far, or None before the first fold."""
    blob = state_io.load_snapshot(state_path, "counts.npz")
    return None if blob is None else blob["nq"]


def _batch_counts(
    df: DataFrame, text_col: str, n_buckets: int, bigrams: bool
) -> np.ndarray:
    rows = (
        df.select(
            F.explode(_feature_buckets(text_col, n_buckets, bigrams)).alias("b")
        )
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    out = np.zeros(n_buckets, dtype=np.int64)
    for r in rows:
        out[r["b"]] = r["n"]
    return out


def fold_dsir_batch(
    batch_df: DataFrame,
    text_col: str,
    state_path: str,
    batch_id: int,
    n_buckets: int = 8192,
    bigrams: bool = True,
) -> None:
    """One fold step, idempotent per ``batch_id``: a replayed batch
    rewrites its own ``batch=<id>`` directory from the state BEFORE it,
    never double-counts."""
    if batch_df.isEmpty():
        return
    nq = _batch_counts(batch_df, text_col, n_buckets, bigrams)
    prior = state_io.load_snapshot(state_path, "counts.npz", before=batch_id)
    if prior is not None:
        nq = nq + prior["nq"]
    state_io.write_snapshot(state_path, "counts.npz", batch_id, nq=nq)


def streaming_dsir_counts(
    stream: DataFrame,
    text_col: str,
    state_path: str,
    n_buckets: int = 8192,
    bigrams: bool = True,
):
    """``foreachBatch`` writer folding each micro-batch's raw-feature
    bucket counts into ``state_path``. Start like any stream::

        q = streaming_dsir_counts(docs_stream, "text", state) \\
            .option("checkpointLocation", ckpt).start()
    """

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        fold_dsir_batch(
            batch_df, text_col, state_path, batch_id, n_buckets, bigrams
        )

    return stream.writeStream.outputMode("update").foreachBatch(fold)


def streaming_dsir_model(
    spark: SparkSession,
    state_path: str,
    target: DataFrame,
    text_col: str = "text",
    n_buckets: int = 8192,
    bigrams: bool = True,
) -> DataFrame | None:
    """The current (bucket, log_ratio) DSIR model: smoothed target rates
    (batch, small fixed corpus) against the smoothed STREAMED raw rates
    — identical math to `fit_dsir` (pinned to 1e-12 by the tests), so
    the result feeds `dsir_weights` / `dsir_select` unchanged. None
    before the first fold."""
    nq = load_dsir_counts(state_path)
    if nq is None:
        return None
    np_counts = _batch_counts(target, text_col, n_buckets, bigrams)
    tp = float(np_counts.sum() + n_buckets)
    tq = float(nq.sum() + n_buckets)
    ratio = np.log((np_counts + 1) / tp) - np.log((nq + 1) / tq)
    return spark.createDataFrame(
        [(int(b), float(ratio[b])) for b in range(n_buckets)],
        "bucket long, log_ratio double",
    )
