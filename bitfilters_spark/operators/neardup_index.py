"""Persisted MinHash-LSH near-dup index: dedup an incoming crawl against
a reference corpus WITHOUT rescanning the reference.

`cross_dedup` (operators/dedup.py) re-derives shingles and band keys for
BOTH sides on every run — correct, but at 100 TB the reference side
dominates and never changes between crawls. This module splits that cost:

* :func:`build_lsh_index` — one-time scan of the reference that persists
  two BUCKETED tables: ``<name>_bands`` (id, band, bh) bucketed on the
  band-bucket join key, and ``<name>_shingles`` (id, sh) bucketed on id
  for the exact-Jaccard verify. The bucketing pre-pays the probe-time
  shuffle: probing never moves an index row.
* :func:`probe_lsh_index` — candidate pairs for NEW docs only: the new
  (small) side computes signatures, shuffles into the index's bucket
  layout, and joins; survivors verify with exact Jaccard against the
  stored shingle sets. Cost ∝ new data, never ∝ reference size.
* :func:`append_to_lsh_index` — extends the index with the new docs
  (append into the same bucketed layout) so the next crawl sees them;
  incremental-maintenance cost ∝ new data, like
  ``refresh_file_index`` (sources/skipping.py) for the file-skipping
  blobs.

Composition law (pytest, tests/test_incremental.py):
``probe_lsh_index(new, index(ref))`` returns exactly the cross-side
pairs of ``minhash_lsh_pairs(ref ∪ new)`` — same permutations, same
band hashing, same exact verification, so an index probe is
indistinguishable from a full-corpus run with the reference frozen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import index_store
from ..sources.index_store import Table
from .dedup import minhash_signatures
from .text import word_shingles


def _banded(sig: DataFrame, id_col: str, k: int, bands: int) -> DataFrame:
    """(id, band, bh) — one row per (doc, band). Unlike minhash_lsh_pairs'
    (band, bh) composite keys, the band index is SALTED INTO the hash
    (``xxhash64(band, slice…)``) so the band-bucket join needs only the
    single ``bh`` column — which then exactly matches the index table's
    bucket column and lets the bucketed scan satisfy the join's
    distribution with zero Exchange. A cross-band xxhash64 collision can
    only add a spurious CANDIDATE, which the exact-Jaccard verify drops."""
    r = k // bands
    band_cols = [
        F.xxhash64(
            F.lit(b),
            F.concat_ws(",", *[F.col("sig")[i] for i in range(b * r, (b + 1) * r)]),
        ).alias(f"b{b}")
        for b in range(bands)
    ]
    return (
        sig.select(id_col, *band_cols)
        .select(
            F.col(id_col).alias("id"),
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(b).alias("band"), F.col(f"b{b}").alias("bh"))
                        for b in range(bands)
                    ]
                )
            ).alias("e"),
        )
        .select("id", "e.band", "e.bh")
    )


# the geometry (k, bands, shingle_n, num_buckets) is stamped on the bands
# table: a probe or append with another geometry would not error — band
# hashes simply never collide — so it is checked instead of silent zero
# recall
_LAYOUT = (Table("bands", "bh"), Table("shingles", "id"))


def _shingle_sets(df: DataFrame, id_col: str, text_col: str, shingle_n: int) -> DataFrame:
    return df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(word_shingles(text_col, shingle_n)).alias("sh"),
    )


def lsh_index_geometry(spark: SparkSession, name: str) -> dict:
    """The stored {k, bands, shingle_n, num_buckets} of a persisted index
    (empty dict for pre-stamping indexes) — pass these to probe/append."""
    return index_store.geometry(spark, name, _LAYOUT)


def build_lsh_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    name: str,
    k: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    num_buckets: int = 32,
    path: str | None = None,
) -> None:
    """One-time reference scan → two bucketed tables ``<name>_bands`` and
    ``<name>_shingles``. The scan computes each doc's signature once (the
    same single-xxhash + affine-permutation min-agg as
    ``minhash_signatures``); the only shuffles are the per-doc signature
    groupBy and the bucketed writes — both ∝ corpus size, paid once."""
    sig = minhash_signatures(df, id_col, text_col, k, shingle_n)
    index_store.publish(
        df.sparkSession,
        name,
        _LAYOUT,
        [_banded(sig, id_col, k, bands), _shingle_sets(df, id_col, text_col, shingle_n)],
        {"k": k, "bands": bands, "shingle_n": shingle_n, "num_buckets": num_buckets},
        path,
    )


def append_to_lsh_index(
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    name: str,
    k: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    num_buckets: int = 32,
) -> None:
    """Fold new docs into the index (append into the bucketed layout —
    Spark routes appended rows to their buckets, so probe-time plans are
    unchanged). Cost ∝ new data; the reference is never rescanned.

    Single-writer contract: appends are plain parquet-table appends with
    no transaction log, so concurrent appenders can interleave files but
    never corrupt the bucketing; serialize appends (as
    ``streaming_neardup_dedup``'s per-micro-batch fold does) when probe
    results must reflect a consistent index version."""
    spark = new_df.sparkSession
    index_store.check_geometry(
        spark,
        name,
        _LAYOUT,
        {"k": k, "bands": bands, "shingle_n": shingle_n, "num_buckets": num_buckets},
        "LSH",
    )
    sig = minhash_signatures(new_df, id_col, text_col, k, shingle_n)
    index_store.append(
        spark,
        name,
        _LAYOUT,
        [_banded(sig, id_col, k, bands), _shingle_sets(new_df, id_col, text_col, shingle_n)],
        num_buckets,
    )


def probe_lsh_index(
    spark: SparkSession,
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    name: str,
    k: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """(new_id, ref_id, jaccard) for every new doc near-duplicating an
    indexed reference doc. The index tables never shuffle (bucketed on
    the join keys); only the new side's band rows and candidate shingle
    sets move. LSH recall semantics are exactly ``minhash_lsh_pairs``:
    candidates from any shared band, then exact Jaccard >= threshold."""
    index_store.check_geometry(
        spark, name, _LAYOUT, {"k": k, "bands": bands, "shingle_n": shingle_n}, "LSH"
    )
    sig = minhash_signatures(new_df, id_col, text_col, k, shingle_n)
    new_bands = _banded(sig, id_col, k, bands)
    ref_bands = spark.table(f"{name}_bands")
    cands = (
        new_bands.alias("n")
        .join(ref_bands.alias("r"), ["bh"])
        .select(F.col("n.id").alias("new_id"), F.col("r.id").alias("ref_id"))
        .distinct()
    )
    new_sh = new_df.select(
        F.col(id_col).alias("new_id"),
        F.array_distinct(word_shingles(text_col, shingle_n)).alias("sh_n"),
    )
    ref_sh = spark.table(f"{name}_shingles").select(
        F.col("id").alias("ref_id"), F.col("sh").alias("sh_r")
    )
    return (
        cands.join(new_sh, "new_id")
        .join(ref_sh, "ref_id")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_n", "sh_r")).cast("double")
            / F.size(F.array_union("sh_n", "sh_r")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("new_id", "ref_id", F.round("jaccard", 6).alias("jaccard"))
    )


def dedup_against_index(
    spark: SparkSession,
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    name: str,
    k: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """New docs with every near-duplicate of an indexed doc dropped — the
    `cross_dedup` contract (reference immutable, new-new dups kept for a
    subsequent `dedup_near` pass) at index-probe cost."""
    hits = probe_lsh_index(
        spark, new_df, id_col, text_col, name, k, bands, shingle_n, threshold
    ).select(F.col("new_id").alias(id_col)).distinct()
    return new_df.join(hits, id_col, "left_anti")


def compact_lsh_index(spark: SparkSession, name: str, path: str | None = None) -> dict:
    """Rewrite both index tables into one file-set per bucket: every
    `append_to_lsh_index` call (and every `streaming_neardup_dedup`
    micro-batch fold) appends a file-set per bucket forever; probe
    answers stay exact but probe plans degrade with file count. Rows and
    geometry are unchanged — probe results are identical before/after
    (joins + per-pair Jaccard, nothing order-sensitive). Published like
    a build: a crash mid-compact leaves the live index untouched and
    fully queryable. Returns bands-table file counts
    ``{"files_before": n, "files_after": n}``."""
    return index_store.compact(spark, name, _LAYOUT, path)
