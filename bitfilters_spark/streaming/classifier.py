"""Streaming classifier training (#111): mini-batch SGD over a document
stream, one persisted weight state the batch scorer can read mid-stream.

Each micro-batch takes ``steps_per_batch`` full-gradient steps ON THAT
BATCH (classic mini-batch SGD — the stream provides the batching), using
the SAME distributed gradient machinery as the batch trainer: features
explode/aggregate JVM-side, the driver sees only model-scale gradient
rows. Weight state is a batch-keyed snapshot of the fold store
(`state_io.write_snapshot`, ``state_path/batch=<id>/weights.npz``): a
replayed batch re-derives FROM THE PRIOR state and overwrites its own
directory — crash redelivery can never double-step.

At any moment `load_streaming_classifier` yields a model dict usable by
`classifier_score` / `classifier_filter` from any session — the "score
today's crawl with the model as of now" loop with no retraining job.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from ..operators.classifier import _sgd_step, hashed_features
from . import state_io


def load_streaming_classifier(state_path: str) -> dict | None:
    blob = state_io.load_snapshot(state_path, "weights.npz")
    if blob is None:
        return None
    return {
        "weights": blob["w"],
        "bias": float(blob["bias"]),
        "n_buckets": int(blob["n_buckets"]),
        "losses": list(blob["losses"]),
    }


def fold_classifier_batch(
    batch_df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    state_path: str,
    batch_id: int,
    n_buckets: int = 1 << 17,
    steps_per_batch: int = 1,
    lr: float = 2.0,
    l2: float = 0.0,
) -> None:
    """One idempotent fold: start from the state BEFORE ``batch_id``,
    take ``steps_per_batch`` gradient steps on this batch, write
    ``batch=<id>``."""
    if batch_df.isEmpty():
        return
    prior = state_io.load_snapshot(state_path, "weights.npz", before=batch_id)
    if prior is None:
        w, bias, losses = np.zeros(n_buckets, dtype="float64"), 0.0, []
    else:
        w, bias = prior["w"].copy(), float(prior["bias"])
        losses = list(prior["losses"])
        if w.shape[0] != n_buckets:
            raise ValueError(
                f"state has n_buckets={w.shape[0]}, fold called with {n_buckets}"
            )

    from pyspark.sql import functions as F

    labels = batch_df.select(
        F.col(id_col).alias("id"), F.col(label_col).cast("double").alias("y")
    )
    labels = labels.persist()
    feats = hashed_features(batch_df, id_col, text_col, n_buckets).persist()
    n = float(labels.count())
    for _ in range(steps_per_batch):
        bias, loss = _sgd_step(feats, labels, n, w, bias, lr, l2)
        losses.append(loss)
    feats.unpersist()
    labels.unpersist()

    state_io.write_snapshot(
        state_path,
        "weights.npz",
        batch_id,
        w=w,
        bias=bias,
        n_buckets=n_buckets,
        losses=np.asarray(losses, dtype="float64"),
    )


def streaming_classifier_train(
    stream: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    state_path: str,
    n_buckets: int = 1 << 17,
    steps_per_batch: int = 1,
    lr: float = 2.0,
    l2: float = 0.0,
):
    """Returns a ``foreachBatch`` writer running mini-batch SGD over the
    labeled stream. Start like any stream; read the live model with
    `load_streaming_classifier` + `classifier_score`."""

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        fold_classifier_batch(
            batch_df, id_col, text_col, label_col, state_path, batch_id,
            n_buckets, steps_per_batch, lr, l2,
        )

    return stream.writeStream.outputMode("update").foreachBatch(fold)
