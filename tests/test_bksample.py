"""Bottom-k hash sample sketch: merge ≡ build-on-union, determinism
under partitioning, nearest-rank quantiles, and DuckDB parity of the
whole build+probe path."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bitfilters_spark.core.bksample import (
    bks_build,
    bks_deserialize,
    bks_merge,
    bks_quantile,
    bks_sample_values,
)
from bitfilters_spark.functions.hashing import duckdb_hash, spark_hash64
from bitfilters_spark.functions.sample import (
    bks_quantile_col,
    bks_sample_size_col,
    bottomk_sample,
)

RNG = np.random.default_rng(7)


def _pairs(n, seed=7):
    rng = np.random.default_rng(seed)
    h = rng.integers(0, 1 << 63, size=n, dtype=np.int64).astype(np.uint64)
    v = rng.integers(-1000, 1000, size=n, dtype=np.int64)
    return h, v


def test_merge_equals_build_on_union_byte_exact():
    h, v = _pairs(5000)
    for cut in (1, 137, 2500, 4999):
        a = bks_build(h[:cut], v[:cut], k=64)
        b = bks_build(h[cut:], v[cut:], k=64)
        assert bks_merge([a, b]) == bks_build(h, v, k=64)


def test_duplicate_hash_keeps_min_value_associatively():
    h = np.array([5, 5, 9], dtype=np.uint64)
    v = np.array([30, 10, 7], dtype=np.int64)
    blob = bks_build(h, v, k=8)
    _, hh, vv = bks_deserialize(blob)
    assert list(hh) == [5, 9] and list(vv) == [10, 7]
    # merge order can't matter
    a = bks_build(h[:1], v[:1], k=8)
    b = bks_build(h[1:], v[1:], k=8)
    assert bks_merge([a, b]) == bks_merge([b, a]) == blob


def test_under_capacity_quantiles_are_exact():
    h, v = _pairs(50)
    blob = bks_build(h, v, k=128)  # holds everything
    sv = np.sort(v)
    for q in (0.1, 0.5, 0.9, 1.0):
        import math

        assert bks_quantile(blob, q) == int(sv[max(1, math.ceil(q * 50)) - 1])


def test_sample_is_hash_prefix():
    h, v = _pairs(1000)
    blob = bks_build(h, v, k=32)
    _, hh, vv = bks_deserialize(blob)
    assert len(hh) == 32
    assert list(hh) == sorted(hh)
    assert set(hh) == set(sorted(h.astype(np.uint64))[:32])
    assert len(bks_sample_values(blob)) == 32


def test_mismatched_k_merge_raises():
    h, v = _pairs(10)
    with pytest.raises(ValueError):
        bks_merge([bks_build(h, v, k=8), bks_build(h, v, k=16)])


def test_spark_two_phase_matches_kernel_any_partitioning(spark):
    rows = [(int(i), int(i % 3), int((i * 37) % 500) - 250) for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, grp long, val long")
    keyed = df.select("grp", spark_hash64("id").alias("h"), "val")
    for parts in (1, 7):
        out = bottomk_sample(keyed.repartition(parts), ["grp"], "h", "val", k=64)
        got = {r["grp"]: bytes(r["sample"]) for r in out.collect()}
        pdf = keyed.toPandas()
        for g in (0, 1, 2):
            sub = pdf[pdf["grp"] == g]
            want = bks_build(
                sub["h"].to_numpy(np.int64).astype(np.uint64),
                sub["val"].to_numpy(np.int64),
                k=64,
            )
            assert got[g] == want


def test_null_rows_are_skipped(spark):
    df = spark.createDataFrame(
        [(1, 10), (2, None), (None, 30), (4, 40)],
        "h long, val long",
    )
    out = bottomk_sample(df, [], "h", "val", k=8).collect()
    _, hh, vv = bks_deserialize(bytes(out[0]["sample"]))
    assert sorted(vv) == [10, 40]


def test_group_keys_stay_exact_beside_a_null(spark):
    """A bigint group key 2^53+1 in a batch that also holds a NULL key
    comes back exact, and the NULL key gets its own sample, as in every
    ``build_filter`` kind."""
    big = 2**53 + 1
    rows = [(big, 11, 1), (None, 22, 2), (5, 33, 3)]
    df = spark.createDataFrame(rows, "g long, h long, v long").coalesce(1)
    got = {
        r["g"]: bks_sample_values(bytes(r["sample"])).tolist()
        for r in bottomk_sample(df, ["g"], "h", "v", k=8).collect()
    }
    assert got == {big: [1], None: [2], 5: [3]}


def test_duckdb_parity_build_and_quantiles(spark):
    """End-to-end engine parity: the sketch sample and its quantiles equal
    DuckDB ranking the same rows by the same hash."""
    import duckdb

    rows = [(int(i), int(i % 2), int((i * 131) % 3000)) for i in range(1200)]
    df = spark.createDataFrame(rows, "id long, grp long, val long")
    keyed = df.select("grp", duckdb_hash("v1.0.0", "id").alias("h"), "val")
    sk = bottomk_sample(keyed, ["grp"], "h", "val", k=100)
    got = {
        r["grp"]: (r["m"], r["p50"], r["p90"])
        for r in sk.select(
            "grp",
            bks_sample_size_col("sample").alias("m"),
            bks_quantile_col("sample", 0.5).alias("p50"),
            bks_quantile_col("sample", 0.9).alias("p90"),
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t(id BIGINT, grp BIGINT, val BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    want = {
        g: (m, p50, p90)
        for g, m, p50, p90 in con.sql(
            """
            WITH kept AS (
              SELECT grp, val FROM t
              QUALIFY row_number() OVER (
                PARTITION BY grp ORDER BY hash(id)) <= 100),
            ranked AS (
              SELECT grp, val,
                     row_number() OVER (PARTITION BY grp ORDER BY val) AS vr,
                     count(*) OVER (PARTITION BY grp) AS m
              FROM kept)
            SELECT grp, max(m),
                   max(CASE WHEN vr = greatest(1, ceil(0.5 * m)) THEN val END),
                   max(CASE WHEN vr = greatest(1, ceil(0.9 * m)) THEN val END)
            FROM ranked GROUP BY grp
            """
        ).fetchall()
    }
    assert got == want


def test_filter_describe_sniffs_bks(spark):
    from bitfilters_spark.functions.filters import filter_describe

    rows = [(int(i), int(i % 2), int(i * 3)) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, grp long, val long")
    keyed = df.select("grp", spark_hash64("id").alias("h"), "val")
    sk = bottomk_sample(keyed, ["grp"], "h", "val", k=32, filter_col="filter")
    desc = filter_describe(sk).collect()
    for r in desc:
        assert r["filter_kind"] == "bottomk_sample"
        assert r["n_entries"] == 32
