"""Scheme-agnostic small-state I/O for the streaming family.

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
already-created directory (the mkdirs→write window): the batch-keyed
state loaders skip entries whose payload file does not exist yet.

These calls run on the DRIVER only (``foreachBatch`` folds and
mid-stream loaders) — py4j access to the JVM FileSystem is available by
construction; nothing here ships to executors.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession


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
    """The file's bytes, or None if it does not exist."""
    jvm, fs, jpath = _jvm_fs(path, spark)
    if not fs.exists(jpath):
        return None
    stream = fs.open(jpath)
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


def batch_state_dirs(
    state_path: str,
    payload: str,
    spark: SparkSession | None = None,
) -> list[tuple[int, str]]:
    """Sorted (batch_id, dir_uri) for every ``batch=<id>`` entry under
    ``state_path`` whose ``payload`` file actually exists — a directory
    created by a crash between mkdirs and the payload write is invisible
    to readers (they fall back to the previous committed batch)."""
    out = []
    for name in list_names(state_path, spark):
        if not name.startswith("batch="):
            continue
        try:
            bid = int(name.split("=", 1)[1])
        except ValueError:
            continue
        d = join(state_path, name)
        if exists(join(d, payload), spark):
            out.append((bid, d))
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
