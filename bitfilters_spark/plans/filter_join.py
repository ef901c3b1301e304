"""Composed plan: bloom-prefiltered join — the reference's headline use
case (docs/README.md 'Performance Benefits': build a filter on the small
side of a join, probe the large side before the join).

Spark realization: build the filter on the dim keys (tiny result), probe
the fact rows map-side (zero shuffles of the fact side before the cut),
then run the exact join on the survivors. Because the filter has no false
negatives, the result is IDENTICAL to the plain join; the filter only cuts
shuffle input. Keys hash with ``key_hash64`` on both sides: byte, short
and int keys widen to bigint first, so an int key meets an equal bigint
key at the same hash.

The probe depends on the kind. The default ``duckdb_bloom`` probes in the
JVM: the blob's non-zero sectors are a small relation broadcast to every
executor, each fact row LEFT-joins its sector, and the mask test is a
Catalyst expression, so no fact row passes through a Python worker
(tests/test_plans.py::test_duckdb_bloom_probe_runs_in_the_jvm). Other
kinds ship the blob as a broadcast VARIABLE into one vectorized Arrow UDF
pass (tests/test_plans.py::test_probe_is_mapside_no_shuffle); the blob is
never a join column, which would duplicate KBs..MBs into every fact row.

At 100 TB: the fact side never shuffles before the probe, so a selective
dim predicate (say 1% of keys) cuts the join's shuffle bytes ~99% at the
cost of one broadcast and one map-side probe.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.filters import build_filter, probe_filter
from ..functions.hashing import key_hash64


def bloom_prefiltered_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    *,
    kind: str = "duckdb_bloom",
    how: str = "inner",
    **filter_kwargs,
) -> DataFrame:
    """``fact JOIN dim ON fact[fact_key] = dim[dim_key]``, with the fact
    side pre-cut by a filter built on the dim keys. Result ≡ the exact
    join (no false negatives); only the data movement changes."""
    dim_keys = dim.select(dim_key).where(F.col(dim_key).isNotNull())
    blobs = build_filter(
        dim_keys.select(key_hash64(dim, dim_key).alias("__h")), [], "__h", kind,
        **filter_kwargs,
    )
    probed = probe_filter(
        fact.withColumn("__h", key_hash64(fact, fact_key)), blobs, "__h"
    )
    survivors = probed.where(F.col("__contains")).drop("__contains", "__h")
    return survivors.join(dim, survivors[fact_key] == dim[dim_key], how)


def antijoin_filter(
    fact: DataFrame,
    keys: DataFrame,
    fact_key: str,
    keys_key: str,
    *,
    kind: str = "duckdb_bloom",
    blobs=None,
    **filter_kwargs,
) -> DataFrame:
    """Filter-accelerated ANTI-join: keep fact rows whose key is NOT in
    ``keys`` — the decontamination shape (drop training docs that appear
    in a benchmark/eval set).

    The filter's one-sided error is exploited in the safe direction: probe
    FALSE means definitely-not-present, so those rows are kept with ZERO
    join work; only the probable hits (true members + the filter's few
    false positives) pay the exact left_anti confirm. At 100 TB with a
    small contamination set, ~the whole corpus short-circuits map-side and
    the anti-join input is a sliver.

    ``blobs`` (r14): a pre-built filter for the key set — the
    ``probe_filter`` forms (blob dict or build_filter DataFrame). The
    default build-and-collect blocks plan construction on a Spark job;
    a caller composing several eager steps can build the filter
    concurrently (guide §2.6) and pass it in. MUST cover the same key
    set, hashed with ``key_hash64`` (integral keys widened to bigint), or
    the no-false-negative guarantee (result ≡ plain anti-join) is lost.
    """
    key_hashes = keys.select(key_hash64(keys, keys_key).alias("__h"))
    if blobs is None:
        blobs = build_filter(key_hashes, [], "__h", kind, **filter_kwargs)
    probed = probe_filter(
        fact.withColumn("__h", key_hash64(fact, fact_key)), blobs, "__h"
    )
    clean = probed.where(~F.col("__contains")).drop("__contains", "__h")
    suspects = probed.where(F.col("__contains")).drop("__contains", "__h")
    confirmed_clean = suspects.join(
        keys.select(F.col(keys_key).alias("__k")).distinct(),
        suspects[fact_key] == F.col("__k"),
        "left_anti",
    )
    return clean.unionByName(confirmed_clean)


def semijoin_filter(
    fact: DataFrame,
    keys: DataFrame,
    fact_key: str,
    keys_key: str,
    *,
    kind: str = "duckdb_bloom",
    exact: bool = True,
    **filter_kwargs,
) -> DataFrame:
    """Filter-accelerated semijoin (data skipping / cache pre-check shape
    from the reference docs): keep fact rows whose key is in ``keys``.
    ``exact=False`` returns the probabilistic superset (filter hits only —
    no join at all, zero shuffles); ``exact=True`` confirms with a
    leftsemi join on the survivors."""
    key_hashes = keys.select(key_hash64(keys, keys_key).alias("__h"))
    blobs = build_filter(key_hashes, [], "__h", kind, **filter_kwargs)
    probed = probe_filter(
        fact.withColumn("__h", key_hash64(fact, fact_key)), blobs, "__h"
    )
    survivors = probed.where(F.col("__contains")).drop("__contains", "__h")
    if not exact:
        return survivors
    return survivors.join(
        keys.select(F.col(keys_key).alias("__k")).distinct(),
        survivors[fact_key] == F.col("__k"),
        "leftsemi",
    )


def drop_ledger(
    original: DataFrame,
    stages,
    id_col: str,
) -> DataFrame:
    """Per-document pipeline audit: (id, dropped_at) for EVERY input
    document, where ``dropped_at`` is the name of the first stage whose
    output no longer contains the id (NULL = survived the whole
    pipeline). ``stages`` is the ordered list of (name, DataFrame)
    stage outputs. At 100 TB you cannot debug a dedup/quality pipeline
    from aggregate counts alone — "which stage ate this document" is
    the question every data audit asks.

    Plan: one id-projected LEFT ANTI.. actually LEFT join per stage on
    the id only (8 B rows both sides, map-side broadcast when a stage's
    survivor set is small); the first-missing logic is a coalesce chain
    over the per-stage presence markers — no shuffle wider than the id
    column, nothing collected."""
    out = original.select(F.col(id_col))
    markers = []
    for i, (name, df) in enumerate(stages):
        m = f"__in{i}"
        out = out.join(
            df.select(F.col(id_col)).distinct().withColumn(m, F.lit(1)),
            id_col,
            "left",
        )
        markers.append((name, m))
    reason = F.lit(None).cast("string")
    # first stage whose marker is NULL, scanning in pipeline order
    for name, m in reversed(markers):
        reason = F.when(F.col(m).isNull(), F.lit(name)).otherwise(reason)
    return out.select(id_col, reason.alias("dropped_at"))
