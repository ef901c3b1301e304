"""Scheme-agnostic small-state I/O for the streaming family, and the
one fold store every streaming fold persists through.

The streaming operators keep their tiny out-of-store state (filter
blobs, moment/weight npz files, commit markers) at a user-supplied
``state_path``. On a real cluster that location is an object store or
HDFS URI, not a local directory — so every byte goes through Spark's
Hadoop FileSystem API (the exact same resolver the checkpoint location
uses): ``file:/``, ``hdfs://``, ``s3a://``, ``abfss://`` ... all work,
and bare paths resolve against ``fs.defaultFS`` exactly like a
checkpoint path would (local filesystem in local mode — tests
unchanged).

Durability contract: `write_bytes` writes to a ``.tmp`` sibling and
renames into place — atomic on HDFS/POSIX, best-effort on object
stores (single-object PUT there, which is itself atomic per object).
Readers must additionally tolerate a *missing* file inside an
already-created directory (the mkdirs→write window) or one deleted by
snapshot retention mid-read: `read_bytes` returns None for both, and
`load_snapshot` skips such entries.

Streaming folds rest on one algebra — partial results merge — and
persist it in one of three shapes, each implemented only here:

* **additive partial tables** (`append_partials` / `read_partials` /
  `compact_partials`): each batch appends its own parquet partial rows,
  readers fold them with one groupBy-sum, and compaction rewrites the
  table through a stage → rename-aside (``__old``) → rename-in →
  delete swap that every read, append and compaction self-heals;
* **batch-keyed npz snapshots** (`load_snapshot` / `write_snapshot`):
  ``batch=<id>/<payload>`` holds the fold of every batch up to ``id``,
  so a replayed batch rewrites its own snapshot from its predecessor;
* **the high-water batch marker** (`read_last_batch` /
  `write_last_batch`): ``<path>/_last_batch`` records the last committed
  batch id of a fold that is not otherwise idempotent per batch.

These calls run on the DRIVER only (``foreachBatch`` folds and
mid-stream loaders) — py4j access to the JVM FileSystem is available by
construction; nothing here ships to executors.
"""

from __future__ import annotations

import io
from typing import Callable

import numpy as np
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.io import target_file_count


def _jvm_fs(path: str, spark: SparkSession | None = None):
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            "state_io needs an active SparkSession to resolve the "
            "filesystem for %r" % path
        )
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return jvm, fs, jpath


def join(*parts: str) -> str:
    """URI-safe path join (Hadoop paths are always '/'-separated)."""
    return "/".join(p.rstrip("/") for p in parts if p != "")


def exists(path: str, spark: SparkSession | None = None) -> bool:
    _, fs, jpath = _jvm_fs(path, spark)
    return bool(fs.exists(jpath))


def read_bytes(path: str, spark: SparkSession | None = None) -> bytes | None:
    """The file's bytes, or None if it does not exist — also when it is
    deleted between the existence check and the open."""
    jvm, fs, jpath = _jvm_fs(path, spark)
    if not fs.exists(jpath):
        return None
    try:
        stream = fs.open(jpath)
    except Py4JJavaError:
        if fs.exists(jpath):
            raise
        return None
    try:
        return bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()


def write_bytes(path: str, data: bytes, spark: SparkSession | None = None) -> None:
    """Write-then-rename: readers never observe a half-written file at
    ``path`` (they may observe the previous content or nothing)."""
    jvm, fs, jpath = _jvm_fs(path, spark)
    parent = jpath.getParent()
    if parent is not None:
        fs.mkdirs(parent)
    tmp = jvm.org.apache.hadoop.fs.Path(str(jpath) + ".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()
    if fs.exists(jpath):
        fs.delete(jpath, False)
    if not fs.rename(tmp, jpath):
        raise IOError(f"rename {tmp} -> {jpath} failed")


def delete(path: str, spark: SparkSession | None = None) -> None:
    """Recursive delete; missing paths are a no-op."""
    _, fs, jpath = _jvm_fs(path, spark)
    if fs.exists(jpath):
        fs.delete(jpath, True)


def rename(src: str, dst: str, spark: SparkSession | None = None) -> None:
    """Directory/file rename (atomic on HDFS/local; best-effort copy
    semantics on object stores, same caveat as every staging swap)."""
    jvm, fs, jsrc = _jvm_fs(src, spark)
    jdst = jvm.org.apache.hadoop.fs.Path(dst)
    if not fs.rename(jsrc, jdst):
        raise IOError(f"rename {src} -> {dst} failed")


def count_files(path: str, spark: SparkSession | None = None) -> int:
    """Number of data files under ``path`` (recursive, hidden files and
    _SUCCESS markers excluded); 0 if it doesn't exist."""
    _, fs, jpath = _jvm_fs(path, spark)
    if not fs.exists(jpath):
        return 0
    n = 0
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        name = it.next().getPath().getName()
        if not name.startswith(("_", ".")):
            n += 1
    return n


def list_names(path: str, spark: SparkSession | None = None) -> list[str]:
    """Child entry basenames of a directory ([] if it doesn't exist)."""
    _, fs, jpath = _jvm_fs(path, spark)
    if not fs.exists(jpath):
        return []
    return [s.getPath().getName() for s in fs.listStatus(jpath)]


def _batch_dirs(state_path: str) -> list[tuple[int, str]]:
    """Sorted (batch_id, dir_uri) for every ``batch=<id>`` entry under
    ``state_path``, committed or not."""
    out = []
    for name in list_names(state_path):
        if name.startswith("batch="):
            try:
                out.append((int(name.split("=", 1)[1]), join(state_path, name)))
            except ValueError:
                pass
    return sorted(out)


def once_per_batch(
    marker_path: str, apply: Callable[[DataFrame], None]
) -> Callable[[DataFrame, int], None]:
    """A ``foreachBatch`` function running ``apply(batch_df)`` exactly
    once per batch id. foreachBatch re-invokes a batch after a crash, so
    the fold first checks a ``<marker_path>/batch-<id>`` marker and
    no-ops when it is present; an empty batch only writes its marker. A
    crash between ``apply`` and the marker write replays that one batch
    (at-least-once for exactly that batch); the marker is one tiny file."""

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        marker = f"{marker_path}/batch-{batch_id}"
        if exists(marker, spark):
            return  # crash-replay of an already-applied batch
        if not batch_df.isEmpty():
            apply(batch_df)
        write_bytes(marker, b"1", spark)

    return fold


def read_last_batch(path: str) -> int:
    """The high-water batch id committed at ``path``, or -1 when none
    (or an unreadable marker) is there."""
    try:
        raw = read_bytes(join(path, "_last_batch"))
        return -1 if raw is None else int(raw.decode().strip())
    except ValueError:
        return -1


def write_last_batch(path: str, batch_id: int) -> None:
    write_bytes(join(path, "_last_batch"), str(batch_id).encode())


def load_snapshot(state_path: str, payload: str, before: int | None = None):
    """The npz arrays of the newest committed ``batch=<id>/<payload>``
    (only ids below ``before`` when given), or None. A ``batch=``
    directory without its payload — a crash between mkdirs and the
    write, or a snapshot `write_snapshot` deleted after the listing — is
    skipped, so readers fall back to the previous committed batch. When
    every listed snapshot is gone the directory is listed once more:
    retention may have deleted them all behind a newer snapshot."""
    for _ in range(2):
        dirs = [d for bid, d in _batch_dirs(state_path)
                if before is None or bid < before]
        for d in reversed(dirs):
            raw = read_bytes(join(d, payload))
            if raw is not None:
                return np.load(io.BytesIO(raw))
        if not dirs:
            break
    return None


def write_snapshot(state_path: str, payload: str, batch_id: int, **arrays) -> None:
    """Write ``batch=<batch_id>/<payload>`` as an npz of ``arrays``, then
    delete every ``batch=`` directory older than the newest committed one
    below ``batch_id``: that one is what a crash-replay of ``batch_id``
    folds onto, so the listing stays bounded at two snapshots."""
    buf = io.BytesIO()
    np.savez(buf, **arrays)
    write_bytes(join(state_path, f"batch={batch_id}", payload), buf.getvalue())
    below = [(bid, d) for bid, d in _batch_dirs(state_path) if bid < batch_id]
    keep = next(
        (bid for bid, d in reversed(below) if exists(join(d, payload))), None
    )
    for bid, d in below:
        if keep is not None and bid < keep:
            delete(d)


def _heal(path: str, spark: SparkSession) -> None:
    """Self-heal a compaction interrupted between its two renames: the
    live directory missing but its ``__old`` sibling present means the
    old state is complete — rename it back before anything reads or
    appends (an append against a missing live directory would recreate
    it with only new batches, silently orphaning history)."""
    old = path + "__old"
    if not exists(path, spark) and exists(old, spark):
        rename(old, path, spark)


def append_partials(df: DataFrame, path: str) -> None:
    """Append one batch's partial rows to the additive table at ``path``."""
    _heal(path, df.sparkSession)
    df.write.mode("append").parquet(path)


def read_partials(
    spark: SparkSession, path: str, keys: list, sums: list
) -> DataFrame | None:
    """The partials at ``path`` folded by one groupBy(``keys``)-sum of
    ``sums``, or None before the first append. Missing state means "no
    data yet"; any OTHER read failure propagates, it must not masquerade
    as an empty stream."""
    _heal(path, spark)
    if not exists(path, spark):
        return None
    return (
        spark.read.parquet(path)
        .groupBy(*keys)
        .agg(*[F.sum(c).alias(c) for c in sums])
    )


def compact_partials(spark: SparkSession, path: str, keys: list, sums: list) -> dict:
    """Rewrite the partial file-sets at ``path`` as their folded rows —
    fold-identical, since the sums are additive. Crash-safe swap: the
    fold is staged (``__stage``), the live directory renamed ASIDE
    (``__old``), the stage renamed in, and only then the old state
    deleted; a crash between the renames leaves the complete old state
    under ``__old``, which the next read, append or compaction renames
    back. Returns ``{"rows_before", "rows_after", "files_before",
    "files_after"}``."""
    folded = read_partials(spark, path, keys, sums)
    if folded is None:
        return dict.fromkeys(
            ("rows_before", "rows_after", "files_before", "files_after"), 0
        )
    stage, old = path + "__stage", path + "__old"
    delete(old, spark)  # after the heal, a leftover __old is stale
    files_before = count_files(path, spark)
    rows_before = spark.read.parquet(path).count()
    # sized like `sources/io.compact_files`; repartition (not coalesce)
    # keeps the groupBy-sum at full shuffle width
    folded.repartition(target_file_count(spark, path)).write.mode(
        "overwrite"
    ).parquet(stage)
    out = {
        "rows_before": rows_before,
        "rows_after": spark.read.parquet(stage).count(),
        "files_before": files_before,
        "files_after": count_files(stage, spark),
    }
    rename(path, old, spark)
    rename(stage, path, spark)
    delete(old, spark)
    return out
