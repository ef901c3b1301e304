"""Streaming maintenance for the persisted retrieval indexes (#133/#134):
keep the BM25 inverted index (`operators/bm25_index.py`) and the
IVF-routed ANN index (`operators/ann_index.py`) CURRENT as a crawl lands,
without ever rescanning the indexed corpus — each micro-batch folds in at
cost ∝ the batch via the operators' own `append_to_*` paths (postings/
vocab/stats are additive; ANN vectors route through the frozen stored
centroids).

This closes the daily-crawl loop end-to-end in streaming: frontier
(`streaming/frontier.py`) → fetch → `streaming_dedup_exact` → THIS sink,
and query batches probe a live index between micro-batches.

Exactly-once per batch via BATCH-ID MARKERS (`state_io.once_per_batch`)
— an improvement over the module convention
`streaming_filter_build`/`streaming_indexed_sink` document (replays
re-append there): foreachBatch re-invokes a batch after a crash, so each
fold first checks a ``<marker_path>/batch-<batch_id>`` marker
(Hadoop-FS, any scheme) and no-ops when present. The residual window is
honest and small: a crash BETWEEN the append and the marker write
replays one batch's append (at-least-once for exactly that batch); the
marker write is one tiny file, not a corpus scan. Idempotence is pinned
by calling the fold twice with the same batch id in tests.

Single-writer contract inherited from the append paths: one maintenance
stream per index name.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.ann_index import (
    append_to_ann_index,
    append_to_ivfpq_index,
    append_to_sig_index,
)
from ..operators.bm25_index import append_to_bm25_index
from ..operators.phrase_index import append_to_phrase_index
from . import state_io


def _fold(append, marker_path: str, id_col: str, col: str, name: str, num_buckets: int):
    """The one fold behind every ``*_maintenance_fold``: ``append`` the
    batch to index ``name``, exactly once per batch id."""
    return state_io.once_per_batch(
        marker_path, lambda df: append(df, id_col, col, name, num_buckets)
    )


def bm25_maintenance_fold(
    id_col: str,
    text_col: str,
    name: str,
    marker_path: str,
    num_buckets: int = 32,
):
    """The ``foreachBatch`` function itself (exposed so tests can replay
    a batch id directly): append the batch's NEW documents to the BM25
    index, exactly once per batch id."""

    return _fold(append_to_bm25_index, marker_path, id_col, text_col, name, num_buckets)


def streaming_bm25_index(
    stream: DataFrame,
    id_col: str,
    text_col: str,
    name: str,
    marker_path: str,
    num_buckets: int = 32,
):
    """foreachBatch writer keeping a built BM25 index current::

        q = streaming_bm25_index(docs_stream, "doc_id", "text",
                                 "corpus_bm25", "/state/bm25_markers") \\
            .option("checkpointLocation", ckpt).start()

    The index must exist (``build_bm25_index`` on the seed corpus — an
    empty seed DataFrame works for a from-scratch stream). Batch docs
    are assumed NEW ids (compose `streaming_dedup_exact` upstream)."""
    return stream.writeStream.foreachBatch(
        bm25_maintenance_fold(id_col, text_col, name, marker_path, num_buckets)
    ).outputMode("append")


def ann_maintenance_fold(
    id_col: str,
    vec_col: str,
    name: str,
    marker_path: str,
    num_buckets: int = 16,
):
    """foreachBatch function: route the batch's NEW vectors through the
    index's frozen centroids and append, exactly once per batch id."""

    return _fold(append_to_ann_index, marker_path, id_col, vec_col, name, num_buckets)


def streaming_ann_index(
    stream: DataFrame,
    id_col: str,
    vec_col: str,
    name: str,
    marker_path: str,
    num_buckets: int = 16,
):
    """foreachBatch writer keeping a built ANN index current. The index
    must exist (``build_ann_index`` trains the quantizer on a seed
    corpus); appended vectors route through those FROZEN centroids, so
    cell balance drifts as the distribution does — rebuild to re-center
    (the standard IVF maintenance trade, documented on the operator)."""
    return stream.writeStream.foreachBatch(
        ann_maintenance_fold(id_col, vec_col, name, marker_path, num_buckets)
    ).outputMode("append")


def phrase_maintenance_fold(
    id_col: str,
    text_col: str,
    name: str,
    marker_path: str,
    num_buckets: int = 32,
):
    """foreachBatch function: append the batch's NEW documents'
    positional postings to the phrase index, exactly once per batch."""
    return _fold(append_to_phrase_index, marker_path, id_col, text_col, name, num_buckets)


def streaming_phrase_index(
    stream: DataFrame,
    id_col: str,
    text_col: str,
    name: str,
    marker_path: str,
    num_buckets: int = 32,
):
    """foreachBatch writer keeping a built phrase index current — the
    #133/#134 contract (index must exist; batch ids assumed NEW;
    `compact_phrase_index` collapses the accumulated file-sets)."""
    return stream.writeStream.foreachBatch(
        phrase_maintenance_fold(id_col, text_col, name, marker_path, num_buckets)
    ).outputMode("append")


def ivfpq_maintenance_fold(
    id_col: str,
    vec_col: str,
    name: str,
    marker_path: str,
    num_buckets: int = 16,
):
    """foreachBatch function: route the batch's NEW vectors through the
    IVFPQ index's frozen centroids AND encode through its frozen
    codebooks, then append — exactly once per batch id."""
    return _fold(append_to_ivfpq_index, marker_path, id_col, vec_col, name, num_buckets)


def streaming_ivfpq_index(
    stream: DataFrame,
    id_col: str,
    vec_col: str,
    name: str,
    marker_path: str,
    num_buckets: int = 16,
):
    """foreachBatch writer keeping a built IVFPQ index current — the
    #133/#134 contract one index family over (index must exist:
    `build_ivfpq_index` trains BOTH frozen models on a seed corpus;
    appended vectors land in identical cells WITH identical codes to a
    rebuild under those models, so stream-maintained probes equal the
    rebuild exactly — pytest; distribution drift degrades recall like
    any frozen-quantizer append: rebuild to re-center)."""
    return stream.writeStream.foreachBatch(
        ivfpq_maintenance_fold(id_col, vec_col, name, marker_path, num_buckets)
    ).outputMode("append")


def sig_maintenance_fold(
    id_col: str,
    vec_col: str,
    name: str,
    marker_path: str,
    num_buckets: int = 16,
):
    """foreachBatch function: pack the batch's NEW vectors into sign
    signatures and append to the persisted signature index — exactly
    once per batch id (the family contract; signature packing has no
    trained model at all, so streamed maintenance is drift-free)."""
    return _fold(append_to_sig_index, marker_path, id_col, vec_col, name, num_buckets)


def streaming_sig_index(
    stream: DataFrame,
    id_col: str,
    vec_col: str,
    name: str,
    marker_path: str,
    num_buckets: int = 16,
):
    """foreachBatch writer keeping a built signature index current
    (index must exist: `build_sig_index` fixes the layout incl.
    keep_vectors; appended rows are byte-identical to a rebuild's —
    sign packing is model-free — so stream-maintained probes equal the
    rebuild exactly, pytest)."""
    return stream.writeStream.foreachBatch(
        sig_maintenance_fold(id_col, vec_col, name, marker_path, num_buckets)
    ).outputMode("append")
