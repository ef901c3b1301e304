"""Streaming NEAR-duplicate dedup: drop stream documents that
near-duplicate anything previously streamed.

``streaming_dedup_exact`` / ``streaming_dedup_bloom`` (streaming/dedup.py)
handle exact fingerprints in the state store; near-dup needs shingle
sets and band joins, which do not fit a per-key state row. Instead the
"state" here IS the persisted LSH index (operators/neardup_index.py):
every micro-batch

1. self-dedups in-batch by running the batch `dedup_near` (connected
   components over the verified pairs, keep the minimum-id member of
   each cluster — IDENTICAL policy to the batch operator, star
   patterns included),
2. probes the index for matches against everything streamed before
   (``probe_lsh_index`` — bucketed tables, index side never shuffles),
3. writes the survivors to ``out_path/batch=<id>/`` and appends their
   band rows + shingle sets to the index (``append_to_lsh_index`` —
   cost ∝ batch).

Because state lives in bucketed tables on storage, it survives the
query, is readable mid-stream by the batch operators, and its size is
disk-bounded, not executor-memory-bounded — the same design choice as
``streaming_filter_build``'s persisted blob, which is why this is a
``foreachBatch`` writer too.

Replay safety (two independent mechanisms):

* A committed batch id is recorded next to the index (the fold store's
  high-water marker, `state_io.write_last_batch`: atomic tmp+rename)
  AFTER output + append succeed; clean re-deliveries of a committed
  batch are skipped outright.
* A crash BETWEEN those steps re-runs the whole batch, and every step
  is idempotent under that re-run: the output goes to a
  batch-id-keyed directory in overwrite mode (a half-written or
  duplicate delivery is replaced, never appended twice); the probe
  excludes exact self-matches (``new_id != ref_id``), so survivors
  already appended to the index before the crash do not knock
  themselves out on replay; and duplicate band/shingle rows from a
  double append are TOLERATED by construction — they only create
  duplicate candidate pairs, which the probe's ``distinct()`` and
  exact-Jaccard verify collapse. Requires globally unique doc ids
  across batches (same requirement the dedup semantics already
  impose).

CONTRACT: the marker is tied to the query's checkpoint lineage (batch
ids restart at 0 with a fresh checkpoint), so reset checkpoint, index,
output dataset, and marker TOGETHER — a fresh checkpoint against an
old index would silently skip every batch until the old high-water
batch id is passed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import state_io


def make_neardup_fold(
    id_col: str,
    text_col: str,
    name: str,
    index_path: str,
    out_path: str,
    k: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
):
    """The ``foreachBatch`` fold itself — factored out so crash-replay
    semantics are testable by calling ``fold(batch_df, batch_id)``
    directly (delete the marker to simulate a crash before commit)."""
    from ..operators.clustering import dedup_near
    from ..operators.dedup import minhash_lsh_pairs
    from ..operators.neardup_index import (
        append_to_lsh_index,
        build_lsh_index,
        probe_lsh_index,
    )

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= state_io.read_last_batch(index_path):
            return  # committed and re-delivered: skip
        spark = batch_df.sparkSession
        batch_df = batch_df.localCheckpoint(eager=True)  # several consumers
        # 1. in-batch self-dedup: connected components over verified
        #    pairs, keep each cluster's min id — the batch `dedup_near`
        #    policy exactly (star patterns collapse to ONE survivor).
        pairs = minhash_lsh_pairs(
            batch_df, id_col, text_col, k, bands, shingle_n, threshold
        )
        kept = dedup_near(batch_df, pairs, id_col)
        # 2. drop matches against everything streamed before; the
        #    self-match exclusion makes a post-append crash replayable
        #    (survivors already in the index must not knock themselves
        #    out when the batch re-runs).
        have_index = spark.catalog.tableExists(f"{name}_bands")
        if have_index:
            hits = (
                probe_lsh_index(
                    spark, kept, id_col, text_col, name, k, bands,
                    shingle_n, threshold,
                )
                .where(F.col("new_id") != F.col("ref_id"))
                .select(F.col("new_id").alias(id_col))
                .distinct()
            )
            kept = kept.join(hits, id_col, "left_anti")
        kept = kept.localCheckpoint(eager=True)  # written AND appended below
        # 3. persist survivors (batch-keyed overwrite: a replayed batch
        #    replaces its own directory instead of double-appending);
        #    then fold them into the index. A crash between these two
        #    writes re-runs the batch; see the module docstring for why
        #    each step is idempotent under that replay.
        kept.write.mode("overwrite").parquet(
            state_io.join(out_path, f"batch={batch_id}")
        )
        if have_index:
            append_to_lsh_index(kept, id_col, text_col, name, k, bands, shingle_n)
        else:
            build_lsh_index(
                kept, id_col, text_col, name, k, bands, shingle_n,
                path=index_path,
            )
        state_io.write_last_batch(index_path, batch_id)

    return fold


def streaming_neardup_dedup(
    stream: DataFrame,
    id_col: str,
    text_col: str,
    name: str,
    index_path: str,
    out_path: str,
    k: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
):
    """Returns a ``foreachBatch`` writer: survivors (stream docs that
    near-duplicate neither an earlier batch's survivor nor their own
    batch's cluster representative) land in ``out_path/batch=<id>/``
    (parquet — readers see ``batch`` as a partition column of the
    output dataset) and become part of the index at ``index_path``.
    Start like any stream::

        q = streaming_neardup_dedup(docs, "doc_id", "text", "crawl",
                                    "/idx", "/clean") \\
            .option("checkpointLocation", ckpt).start()
    """
    fold = make_neardup_fold(
        id_col, text_col, name, index_path, out_path,
        k, bands, shingle_n, threshold,
    )
    return stream.writeStream.foreachBatch(fold).outputMode("update")
