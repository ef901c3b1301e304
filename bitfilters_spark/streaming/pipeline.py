"""The streaming prep pipeline, composed end-to-end (#116): robust
ingest → exact first-seen dedup → corpus filter build → indexed parquet
sink, one ``foreachBatch`` fold — and provably ≡ the BATCH composition
of the same stages over the same rows (the golden test in
tests/test_streaming_pipeline.py pins output rows, quarantine rows, and
the filter blob BYTE-EXACT against the batch run).

Per micro-batch of raw JSONL lines:

1. **Parse / dead-letter** — the `sources/ingest.py` ``from_json``
   corrupt signal; bad lines land under ``quarantine_path/batch=<id>``.
2. **Exact dedup** — first-seen per fingerprint hash: in-batch min-id,
   then cross-batch via the engine's own decontamination shape
   (`plans/filter_join.antijoin_filter`): the CORPUS FILTER BUILT SO FAR
   pre-cuts the batch (probe-false rows are definitely new, zero join
   work) and only probable hits pay the exact anti-join against the
   landed dataset — the filter this pipeline maintains is also the
   accelerator of its own dedup.
3. **Filter fold** — survivors' hashes merge into the blob at
   ``filter_path`` (mergeable-family invariant:
   ``merge(build(A), build(B)) == build(A ∪ B)`` byte-exact — which is
   exactly why streaming == batch on the blob).
4. **Indexed sink** — survivors land under ``out_path/batch=<id>``
   (batch-keyed OVERWRITE: replays replace, never duplicate) and the
   file-skipping index at ``index_path`` refreshes incrementally (only
   the new files are scanned).

Replay safety = the `streaming/neardup.py` contract: the fold store's
high-water marker (`state_io.read_last_batch`, tied to the checkpoint
lineage) skips clean re-deliveries; a crash mid-fold re-runs a batch
whose every step is idempotent (batch-keyed overwrites; filter re-merge
of the same keys is a set union; the index refresh indexes whatever
files exist). State and outputs live at
Hadoop-FS URIs via `state_io` / Spark writers — object-store safe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.filters import MERGEABLE, _merge_blobs, build_filter, probe_filter
from ..sources.ingest import CORRUPT_COL
from . import state_io
from .filter_build import load_filter_blob


def make_prep_pipeline_fold(
    schema: str,
    out_path: str,
    quarantine_path: str,
    filter_path: str,
    index_path: str,
    id_col: str = "doc_id",
    fp_col: str = "text",
    line_col: str = "value",
    kind: str = "bloom",
    index_key_cols: list | None = None,
    **filter_kw,
):
    """The fold itself, factored out (the `make_neardup_fold` pattern) so
    crash/replay semantics are testable by calling ``fold(df, id)``
    directly. ``schema`` is the DDL of a parsed row; ``fp_col`` the
    dedup fingerprint column; the index covers ``index_key_cols``
    (default ``[id_col]``)."""
    if kind not in MERGEABLE:
        raise ValueError(f"pipeline filter needs a mergeable kind, got {kind!r}")
    index_keys = list(index_key_cols or [id_col])

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= state_io.read_last_batch(index_path):
            return  # committed and re-delivered
        spark = batch_df.sparkSession

        # 1. parse + dead-letter (sources/ingest.py corrupt-signal form)
        full_schema = f"{schema}, {CORRUPT_COL} STRING"
        parsed = batch_df.select(
            F.col(line_col).alias("__raw"),
            F.from_json(
                F.col(line_col),
                full_schema,
                {"columnNameOfCorruptRecord": CORRUPT_COL},
            ).alias("__p"),
        ).where(F.trim("__raw") != "")
        good = (
            parsed.where(F.col(f"__p.{CORRUPT_COL}").isNull())
            .select("__p.*")
            .drop(CORRUPT_COL)
        )
        bad = parsed.where(F.col(f"__p.{CORRUPT_COL}").isNotNull()).select(
            F.col("__raw").alias("raw")
        )
        bad.write.mode("overwrite").parquet(
            state_io.join(quarantine_path, f"batch={batch_id}")
        )

        # 2. exact first-seen dedup: in-batch min id per fingerprint hash,
        #    then the bloom-prefiltered anti-join against what has landed
        new = (
            good.withColumn("fp_hash", F.xxhash64(F.col(fp_col)))
            .withColumn(
                "__rn",
                F.row_number().over(
                    Window.partitionBy("fp_hash").orderBy(id_col)
                ),
            )
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
        blob = load_filter_blob(filter_path)
        if blob is None:
            kept = new
        else:
            probed = probe_filter(new, {(): blob}, "fp_hash")
            fresh = probed.where(~F.col("__contains")).drop("__contains")
            suspects = probed.where(F.col("__contains")).drop("__contains")
            # crash-replay safety (the neardup self-match rule): a re-run
            # batch must not anti-join against its OWN earlier output, or
            # it would knock out its rows and overwrite the directory
            # with the loss — exclude this batch's partition from "seen"
            landed = spark.read.parquet(out_path)
            if "batch" in landed.columns:
                landed = landed.where(F.col("batch") != batch_id)
            kept = fresh.unionByName(
                suspects.join(landed.select("fp_hash"), "fp_hash", "left_anti")
            )
        kept = kept.localCheckpoint(eager=True)  # written + folded + indexed

        # 3. land survivors (batch-keyed overwrite)
        kept.write.mode("overwrite").parquet(
            state_io.join(out_path, f"batch={batch_id}")
        )

        # 4. fold their hashes into the corpus filter
        rows = build_filter(kept, [], "fp_hash", kind, **filter_kw).collect()
        if rows:
            part = bytes(rows[0]["filter"])
            merged = part if blob is None else _merge_blobs(kind, [blob, part])
            state_io.write_bytes(filter_path, merged)

        # 5. refresh the file-skipping index (kept files keep their blobs;
        #    only this batch's new files are scanned)
        from pyspark.errors import AnalysisException

        from ..sources.skipping import (
            build_file_index,
            load_index,
            refresh_file_index,
            save_index,
        )

        try:
            old = load_index(spark, index_path)
        except AnalysisException:
            idx = build_file_index(spark, out_path, index_keys, kind=kind,
                                   **filter_kw)
        else:
            idx = refresh_file_index(spark, out_path, old, index_keys,
                                     kind=kind, **filter_kw)
        save_index(idx, index_path)
        state_io.write_last_batch(index_path, batch_id)

    return fold


def streaming_prep_pipeline(
    stream: DataFrame,
    schema: str,
    out_path: str,
    quarantine_path: str,
    filter_path: str,
    index_path: str,
    **kw,
):
    """``writeStream``-ready composition over a TEXT stream of JSONL::

        q = streaming_prep_pipeline(spark.readStream.text(src), sch,
                                    good, quarantine, blob, index) \\
            .option("checkpointLocation", ckpt).start()

    Mid-stream, other sessions can read ``out_path`` (the deduped
    corpus), probe ``filter_path`` with `antijoin_filter` (instant
    decontamination against everything ever streamed), and
    `skipping_read` through ``index_path`` — every artifact is live."""
    fold = make_prep_pipeline_fold(
        schema, out_path, quarantine_path, filter_path, index_path, **kw
    )
    return stream.writeStream.foreachBatch(fold).outputMode("append")
