"""HyperLogLog + Misra-Gries sketches: kernel invariants and the Spark
two-phase build/merge/probe surface.

HLL is canonical (register max ⇒ merge(build(A), build(B)) is
byte-identical to build(A ∪ B)); MG is error-bounded instead (counts are
lower bounds with undercount <= n/(k+1), and EXACT while total distinct
<= k — the regime the Spark exact tests pin)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bitfilters_spark.core import hll, mg
from bitfilters_spark.core.hashing import hash_int64
from bitfilters_spark.functions import build_filter, filter_describe, heavy_hitters
from bitfilters_spark.functions.filters import hll_distinct, merge_filters, mg_estimate
from bitfilters_spark.functions.hashing import spark_hash64

SF = "/root/testdata/sf0.001"

KEYS = hash_int64(np.arange(1, 100_001, dtype=np.int64))


# ------------------------------------------------------------- kernels ---


def test_hll_estimate_within_expected_error():
    blob = hll.hll_build(KEYS, p=12)
    est = hll.hll_estimate(blob)
    # 1.04/sqrt(4096) ~ 1.6% stderr; allow 5%
    assert abs(est - 100_000) / 100_000 < 0.05
    assert len(blob) == 5 + 4096  # fixed size, data-independent


def test_hll_small_range_near_exact():
    blob = hll.hll_build(KEYS[:100], p=12)
    # linear counting: exact up to register collisions (~1-2 at 100/4096)
    assert abs(hll.hll_estimate(blob) - 100) <= 3
    assert hll.hll_estimate(hll.hll_build(KEYS[:0], p=12)) == 0


def test_hll_merge_is_build_on_union_bytes():
    bulk = hll.hll_build(KEYS, p=10)
    a = hll.hll_build(KEYS[:60_000], p=10)
    b = hll.hll_build(KEYS[40_000:], p=10)  # overlapping split
    assert hll.hll_merge([a, b]) == bulk


def test_hll_merge_rejects_mismatched_p():
    with pytest.raises(ValueError, match="different p"):
        hll.hll_merge([hll.hll_build(KEYS[:10], p=10), hll.hll_build(KEYS[:10], p=12)])


def _skewed():
    # 10 heavy keys x 1000 + 5000 singletons, shuffled
    data = np.concatenate([np.repeat(KEYS[:10], 1000), KEYS[10:5010]])
    np.random.default_rng(7).shuffle(data)
    return data


def test_mg_bounds_and_heavy_key_presence():
    data = _skewed()
    blob = mg.mg_build(data, k=64)
    est = mg.mg_estimate(blob, KEYS[:10])
    # lower bound, undercount <= n/(k+1)
    assert (est <= 1000).all()
    assert (est >= 1000 - len(data) // 65).all()
    # every key with true count > n/(k+1) ~ 230 must be tracked
    topk, _ = mg.mg_topk(blob, 10)
    assert set(int(x) for x in topk) == set(int(x) for x in KEYS[:10])


def test_mg_merge_preserves_bounds():
    data = _skewed()
    parts = np.array_split(data, 7)
    merged = mg.mg_merge([mg.mg_build(p, k=64) for p in parts])
    est = mg.mg_estimate(merged, KEYS[:10])
    assert (est <= 1000).all()
    assert (est >= 1000 - len(data) // 65).all()
    absent = mg.mg_estimate(merged, KEYS[20_000:20_010])
    assert (absent == 0).all()


def test_mg_exact_while_under_capacity_even_after_merge():
    counts = np.arange(1, 21)
    small = np.repeat(KEYS[:20], counts)
    whole = mg.mg_build(small, k=64)
    assert (mg.mg_estimate(whole, KEYS[:20]) == counts).all()
    merged = mg.mg_merge([mg.mg_build(s, k=64) for s in np.array_split(small, 3)])
    assert (mg.mg_estimate(merged, KEYS[:20]) == counts).all()
    assert mg.mg_merge([whole, mg.mg_build(KEYS[:0], k=64)]) == whole


def test_mg_merge_rejects_mismatched_k():
    with pytest.raises(ValueError, match="different k"):
        mg.mg_merge([mg.mg_build(KEYS[:10], k=8), mg.mg_build(KEYS[:10], k=16)])


# --------------------------------------------------------------- spark ---


@pytest.fixture(scope="module")
def orders(spark):
    return spark.read.parquet(f"{SF}/orders.parquet")


def test_hll_two_phase_build_equals_bulk_and_rollup(spark, orders):
    keyed = orders.select(
        (F.col("o_orderkey") % 4).alias("g4"), spark_hash64("o_orderkey").alias("h")
    ).withColumn("g2", F.floor(F.col("g4") / 2).cast("long")).repartition(6)
    fine = build_filter(keyed, ["g4", "g2"], "h", "hll", p=10)
    # merge to coarser groups == direct build (canonical register max)
    merged = merge_filters(fine, ["g2"])
    direct = build_filter(keyed, ["g2"], "h", "hll", p=10)
    got = {r["g2"]: bytes(r["filter"]) for r in merged.collect()}
    want = {r["g2"]: bytes(r["filter"]) for r in direct.collect()}
    assert got == want
    # estimate lands near the exact distinct count
    est = {
        r["g2"]: r["est"]
        for r in direct.withColumn("est", hll_distinct("filter")).collect()
    }
    exact = {
        r["g2"]: r["d"]
        for r in keyed.groupBy("g2").agg(F.countDistinct("h").alias("d")).collect()
    }
    for g, d in exact.items():
        assert abs(est[g] - d) / d < 0.1, (g, est[g], d)


def test_mg_exact_regime_matches_group_by(spark, orders):
    # 40 distinct keys < k=64 -> MG counts are exact == GROUP BY counts
    keyed = orders.select(
        (F.col("o_orderkey") % 2).alias("grp"),
        spark_hash64((F.col("o_orderkey") % 40)).alias("h"),
    ).repartition(8)
    filters = build_filter(keyed, ["grp"], "h", "mg", k=64)
    got = {
        (r["grp"], r["key_hash"]): r["est_count"]
        for r in heavy_hitters(filters).collect()
    }
    want = {
        (r["grp"], r["h"]): r["c"]
        for r in keyed.groupBy("grp", "h").agg(F.count("*").alias("c")).collect()
    }
    assert got == want


def test_heavy_hitters_group_keys_stay_exact_beside_a_null(spark):
    """A bigint group key 2^53+1 in a batch that also holds a NULL key
    comes back exact from ``heavy_hitters``, each group with its own
    counters."""
    big = 2**53 + 1
    rows = [(big, 11), (big, 11), (None, 22), (5, 33)]
    df = spark.createDataFrame(rows, "g long, h long").coalesce(1)
    filters = build_filter(df, ["g"], "h", "mg", k=8).coalesce(1)
    got = {
        (r["g"], r["key_hash"]): r["est_count"]
        for r in heavy_hitters(filters).collect()
    }
    assert got == {(big, 11): 2, (None, 22): 1, (5, 33): 1}


def test_mg_skewed_spark_build_tracks_heavy_keys(spark):
    # 5 heavy keys (x400) over ~8000 noise rows; k=64 -> guaranteed tracked
    heavy = spark.range(2000).select(
        (F.col("id") % 5).alias("key"), F.lit("h").alias("src")
    )
    noise = spark.range(8000).select(
        (F.col("id") + 1000).alias("key"), F.lit("n").alias("src")
    )
    df = heavy.unionByName(noise).select(spark_hash64("key").alias("h")).repartition(16)
    filters = build_filter(df, [], "h", "mg", k=64)
    top = heavy_hitters(filters, top_k=5).collect()
    want_hashes = {
        r["h"] for r in
        spark.range(5).select(spark_hash64("id").alias("h")).collect()
    }
    assert {r["key_hash"] for r in top} == want_hashes
    n = df.count()
    for r in top:
        assert r["est_count"] <= 400
        assert r["est_count"] >= 400 - n // 65


def test_describe_and_sql_surface(spark, orders):
    from bitfilters_spark.sql import register_sql_functions

    keyed = orders.select(spark_hash64("o_orderkey").alias("h"))
    n_distinct = keyed.distinct().count()
    hllf = build_filter(keyed, [], "h", "hll", p=12)
    mgf = build_filter(
        orders.select(spark_hash64((F.col("o_orderkey") % 30)).alias("h")),
        [], "h", "mg", k=64,
    )
    drow = filter_describe(hllf).collect()[0]
    assert drow["filter_kind"] == "hyperloglog"
    assert drow["size_bytes"] == 5 + 4096
    assert 0 < drow["fill_ratio"] <= 1.0
    mrow = filter_describe(mgf).collect()[0]
    assert mrow["filter_kind"] == "misra_gries"
    assert mrow["n_entries"] == 30

    register_sql_functions(spark)
    hllf.createOrReplaceTempView("hll_f")
    mgf.createOrReplaceTempView("mg_f")
    est = spark.sql("SELECT bf_hll_distinct(filter) AS e FROM hll_f").collect()[0]["e"]
    assert abs(est - n_distinct) / n_distinct < 0.1
    probe = spark.sql(
        "SELECT bf_mg_estimate(filter, xxhash64(CAST(7 AS BIGINT))) AS c FROM mg_f"
    ).collect()[0]["c"]
    exact = orders.where((F.col("o_orderkey") % 30) == 7).count()
    assert probe == exact
