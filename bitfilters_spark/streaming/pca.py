"""Streaming embedding moments → PCA that is always up to date (#109).

`operators/similarity.embedding_moments` reduces a corpus to the
ADDITIVE sufficient statistic (n, Σx, ΣxxT); addition is exactly the
merge a stream needs, so the streaming fit is: each micro-batch computes
its own moment partial (same BLAS mapInPandas kernel — the batch never
leaves the executors) and folds it into a persisted state row. At any
moment `load_moments` + `pca_from_moments` yields the PCA of EVERYTHING
streamed so far — loadable mid-stream, by other sessions, with no
state-store coupling (the same contract as `streaming_filter_build`).

Exactly-once: state is a batch-keyed snapshot of the fold store
(`state_io.write_snapshot`, ``state_path/batch=<id>/moments.npz``) — a
replayed batch overwrites its own directory with identical content
instead of double-adding; `load_moments` reads the HIGHEST committed
batch id, which always holds the fold of every batch up to it.

``state_path`` is any Hadoop-FS URI (``s3a://``, ``hdfs://``, local) —
all I/O goes through `state_io` (driver-side, scheme-agnostic), and
readers skip a ``batch=`` directory whose npz is not yet written, so a
crash between mkdirs and the payload write falls back to the previous
committed batch instead of raising.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.similarity import embedding_moments
from . import state_io


def load_moments(state_path: str):
    """(n, s, g) folded over every micro-batch so far, or None."""
    blob = state_io.load_snapshot(state_path, "moments.npz")
    return None if blob is None else (int(blob["n"]), blob["s"], blob["g"])


def streaming_embedding_moments(
    stream: DataFrame, vec_col: str, state_path: str
):
    """Returns a ``foreachBatch`` writer folding each micro-batch's
    moment partial into ``state_path``. Start like any stream::

        q = streaming_embedding_moments(emb_stream, "embedding", state) \\
            .option("checkpointLocation", ckpt).start()

    Empty micro-batches are no-ops. Fold with `fold_moments_batch` when
    driving batches by hand (tests, backfills)."""

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        fold_moments_batch(batch_df, vec_col, state_path, batch_id)

    return stream.writeStream.outputMode("update").foreachBatch(fold)


def fold_moments_batch(
    batch_df: DataFrame, vec_col: str, state_path: str, batch_id: int
) -> None:
    """One fold step, idempotent per ``batch_id``: recomputing a batch
    after a crash rewrites the same ``batch=<id>`` directory with the
    same content (prior state + this batch), never double-adds."""
    if batch_df.isEmpty():
        return
    n, s, g = embedding_moments(batch_df, vec_col)
    prior = state_io.load_snapshot(state_path, "moments.npz", before=batch_id)
    if prior is not None:
        n, s, g = n + int(prior["n"]), s + prior["s"], g + prior["g"]
    state_io.write_snapshot(state_path, "moments.npz", batch_id, n=n, s=s, g=g)


def streaming_pca(spark: SparkSession, state_path: str, k: int, center: bool = True):
    """The current PCA over everything streamed so far (None if no data
    yet) — call mid-stream from any session."""
    from ..operators.similarity import pca_from_moments

    got = load_moments(state_path)
    if got is None:
        return None
    n, s, g = got
    return pca_from_moments(n, s, g, k, center)
