"""The persisted-index store: the one place an index's tables are named,
written, stamped, swapped live, compacted and refreshed.

Every index family (bm25, phrase, LSH, CDC, IVF, IVF-PQ, binary
signatures) is a fixed set of catalog tables ``<name>_<suffix>``. A
family declares that set once as a tuple of :class:`Table` (its layout)
and hands DataFrames to this module, which owns the protocol:

* **Names.** :func:`check_name` restricts index names to plain SQL
  identifiers, because they are interpolated into DDL.
* **Geometry.** The parameters an append or probe must agree with (bucket
  count, band count, chunk sizes, ...) are stamped as ``bitfilters.*``
  TBLPROPERTIES on the layout's first table. :func:`geometry` reads them
  and :func:`check_geometry` fails loudly on a mismatch, which would
  otherwise route appended rows to the wrong buckets or silently drop
  recall to zero.
* **Publish.** :func:`publish` writes every table to
  ``<name>__stage_<suffix>``, stamps the geometry on the stage, and only
  then swaps the stages live (DROP + RENAME, metadata only). A build that
  fails mid-write leaves the previous index fully queryable. With
  ``path=`` the tables are external and each one stages into
  ``<path>/<name>_<suffix>__stage_{a,b}``: the directory carries the
  index name, so indexes sharing one ``path`` never share data, and
  rebuilds alternate between the two directories, so a rebuild never
  writes into the directory the live table reads.
* **Compact.** :func:`compact` rewrites an index into one file per bucket
  through the same publish.
* **Refresh.** :func:`refresh` drops this session's cached file listings,
  so appends made by another session (a streaming fold, a second writer)
  become visible.

Appends stay plain bucketed-table appends with no commit point (single
writer per index); :func:`append` writes them with the layout's bucketing.
"""

from __future__ import annotations

import re
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_PREFIX = "bitfilters."


class Table(NamedTuple):
    """One table of an index, ``<name>_<suffix>``: bucketed on ``bucket``
    (``None`` for a plain table) and, when ``sort``, sorted on it inside
    each bucket."""

    suffix: str
    bucket: str | None = None
    sort: bool = False


def check_name(name: str) -> str:
    """Index names are interpolated into SQL DDL statements — restrict to
    identifier characters so a crafted name cannot smuggle SQL."""
    if not isinstance(name, str) or not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
        raise ValueError(
            f"index name {name!r} must be a plain SQL identifier "
            "([A-Za-z_][A-Za-z0-9_]*)"
        )
    return name


def geometry(spark: SparkSession, name: str, layout: tuple) -> dict:
    """The stored ``bitfilters.*`` geometry of an index as ``{key: int}``
    (empty for an index built before geometry stamping). Raises the
    catalog's error when the index does not exist."""
    table = f"{check_name(name)}_{layout[0].suffix}"
    rows = spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
    return {
        r["key"][len(_PREFIX):]: int(r["value"])
        for r in rows
        if r["key"].startswith(_PREFIX)
    }


def check_geometry(
    spark: SparkSession, name: str, layout: tuple, want: dict, family: str
) -> dict:
    """Fail fast when the caller's geometry disagrees with the stored one;
    returns the stored geometry. Keys the index does not carry pass."""
    have = geometry(spark, name, layout)
    for key, value in want.items():
        if key in have and have[key] != value:
            raise ValueError(
                f"{family} index '{name}' was built with {key}={have[key]}, "
                f"called with {key}={value}; a mismatched geometry puts rows "
                "in the wrong buckets or matches nothing. Rebuild the index "
                "or pass the stored geometry."
            )
    return have


def refresh(spark: SparkSession, name: str, layout: tuple) -> None:
    """Drop this session's cached file listings for the index tables
    (metadata only): another session's appends are on disk and in the
    shared catalog, but a session that already read a table keeps serving
    its old listing."""
    for t in layout:
        spark.catalog.refreshTable(f"{check_name(name)}_{t.suffix}")


def live_location(spark: SparkSession, table: str) -> str:
    """The table's storage location ('' when the table does not exist)."""
    try:
        if not spark.catalog.tableExists(table):
            return ""
        rows = spark.sql(f"DESCRIBE FORMATTED {table}").collect()
    except Exception:
        return ""
    for r in rows:
        if (r["col_name"] or "").strip() == "Location":
            return (r["data_type"] or "").strip()
    return ""


def _stage_dir(spark: SparkSession, table: str, path: str | None) -> str | None:
    """``<path>/<table>__stage_a`` or ``..._b``, whichever the live table
    does not occupy; ``None`` for a managed table. At most two directories
    exist per table and the stale one is overwritten by the next publish,
    so no cleanup pass is needed."""
    if path is None:
        return None
    live = live_location(spark, table).rstrip("/")
    pick = "b" if live.endswith(f"{table}__stage_a") else "a"
    return f"{path}/{table}__stage_{pick}"


def _write(
    df: DataFrame,
    table: str,
    t: Table,
    num_buckets: int,
    mode: str,
    path: str | None = None,
) -> None:
    w = df.write.format("parquet").mode(mode)
    if t.bucket:
        w = w.bucketBy(num_buckets, t.bucket)
        if t.sort:
            w = w.sortBy(t.bucket)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def append(
    spark: SparkSession, name: str, layout: tuple, dfs: list, num_buckets: int
) -> None:
    """Append one DataFrame per layout table into the live tables, routed
    to their buckets; probe plans are unchanged. Check the geometry first
    (:func:`check_geometry`)."""
    check_name(name)
    for t, df in zip(layout, dfs, strict=True):
        _write(df, f"{name}_{t.suffix}", t, num_buckets, "append")


def _drop(spark: SparkSession, table: str, path: str | None) -> None:
    """DROP the table; for a managed index also remove its default
    location. A managed write that failed, or a catalog that did not
    outlive its session, leaves that directory behind, and Spark will not
    create or rename a managed table onto it."""
    from ..streaming import state_io

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    if path is None:
        db = spark.catalog.getDatabase(spark.catalog.currentDatabase()).locationUri
        state_io.delete(state_io.join(db, table.lower()), spark)


def publish(
    spark: SparkSession,
    name: str,
    layout: tuple,
    dfs: list,
    geom: dict,
    path: str | None = None,
) -> None:
    """Write one DataFrame per layout table to ``<name>__stage_<suffix>``,
    stamp ``geom`` (which holds ``num_buckets``) on the stage, then swap
    every stage live. The live index stays untouched until all stage
    writes succeed; a crash inside the swap (a few catalog statements, no
    data scan) leaves stamped stages a re-run replaces."""
    check_name(name)
    stage = f"{name}__stage"
    for t in layout:
        _drop(spark, f"{stage}_{t.suffix}", path)
    for t, df in zip(layout, dfs, strict=True):
        live = f"{name}_{t.suffix}"
        _write(
            df, f"{stage}_{t.suffix}", t, geom["num_buckets"], "overwrite",
            _stage_dir(spark, live, path),
        )
    props = ", ".join(f"'{_PREFIX}{k}'='{int(v)}'" for k, v in geom.items())
    spark.sql(f"ALTER TABLE {stage}_{layout[0].suffix} SET TBLPROPERTIES ({props})")
    for t in layout:
        _drop(spark, f"{name}_{t.suffix}", path)
        spark.sql(f"ALTER TABLE {stage}_{t.suffix} RENAME TO {name}_{t.suffix}")
    refresh(spark, name, layout)


def _nfiles(spark: SparkSession, table: str) -> int:
    return spark.table(table).select(F.input_file_name()).distinct().count()


def compact(
    spark: SparkSession,
    name: str,
    layout: tuple,
    path: str | None = None,
    folds: dict[str, Callable[[DataFrame], DataFrame]] | None = None,
) -> dict:
    """Rewrite every table of the index into one file per bucket and
    republish it with its stored geometry. ``folds`` maps a suffix to a
    function applied to that table's rows first (folding additive partial
    rows, say); other tables keep their rows. ``path`` must be the value
    the index was built with. Returns ``{"files_before": n, "files_after":
    n}`` for the first table.

    Each table is read from its FILES, not through the catalog: a bucketed
    read advertises ``HashPartitioning(bucket, n)``, so the optimizer would
    drop the repartition below as redundant while the scan packs small
    files into mixed-bucket partitions. Repartitioning on the bucket column
    into ``num_buckets`` tasks uses the hash the bucket writer uses, so
    each task holds one bucket and writes one file."""
    refresh(spark, name, layout)
    geom = geometry(spark, name, layout)
    if "num_buckets" not in geom:
        raise ValueError(
            f"index '{name}' carries no stored geometry; compaction needs "
            "the bucket count to preserve the layout."
        )
    nb = geom["num_buckets"]
    head = f"{name}_{layout[0].suffix}"
    files_before = _nfiles(spark, head)
    dfs = []
    for t in layout:
        table = f"{name}_{t.suffix}"
        loc = live_location(spark, table)
        df = spark.read.parquet(loc) if loc else spark.table(table)
        if folds and t.suffix in folds:
            df = folds[t.suffix](df)
        if t.bucket:
            df = df.repartition(nb, F.col(t.bucket))
        dfs.append(df)
    publish(spark, name, layout, dfs, geom, path)
    return {"files_before": files_before, "files_after": _nfiles(spark, head)}
