"""Spark integration: build filters per group, probe via cross join —
the reference's own test query shapes (test/sql/bitfilters.test)."""

import duckdb
import pytest
from pyspark.sql import functions as F

from bitfilters_spark.functions import (
    build_filter,
    duckdb_bloom_probe,
    filter_contains,
)
from bitfilters_spark.functions.hashing import duckdb_hash, spark_hash64

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def orders(spark):
    return spark.read.parquet(f"{SF}/orders.parquet")


def _members_found(spark, orders, kind, **kw):
    keyed = orders.select(
        (F.col("o_orderkey") % 2).alias("grp"), spark_hash64("o_orderkey").alias("h")
    )
    filters = build_filter(keyed, ["grp"], "h", kind, **kw)
    probed = keyed.join(F.broadcast(filters), "grp")
    got = (
        probed.where(filter_contains("filter", "h"))
        .groupBy("grp")
        .count()
        .orderBy("grp")
        .collect()
    )
    want = keyed.groupBy("grp").count().orderBy("grp").collect()
    assert [r["count"] for r in got] == [r["count"] for r in want]


@pytest.mark.parametrize("kind,kw", [
    ("quotient", {"q": 16, "r": 4}),
    ("xor8", {}),
    ("xor16", {}),
    ("fuse8", {}),
    ("fuse16", {}),
    ("bloom", {"n": 2000, "fpp": 0.01}),
    ("duckdb_bloom", {"num_sectors": 2048}),
])
def test_members_all_found(spark, orders, kind, kw):
    _members_found(spark, orders, kind, **kw)


def test_global_filter_no_groups(spark, orders):
    keyed = orders.select(spark_hash64("o_orderkey").alias("h"))
    filt = build_filter(keyed, [], "h", "xor8")
    assert filt.count() == 1
    n = keyed.crossJoin(F.broadcast(filt)).where(filter_contains("filter", "h")).count()
    assert n == orders.count()


def test_quotient_fp_matches_duckdb_semantics(spark, orders):
    """FP rows (probing the other group's filter) must equal the exact
    low-20-bit signature semijoin computed by DuckDB — same hash, same
    truncation, so identical row sets."""
    keyed = orders.select(
        (F.col("o_orderkey") % 2).alias("grp"),
        duckdb_hash("v1.0.0", "o_orderkey").alias("h"),
    )
    filters = build_filter(keyed, ["grp"], "h", "quotient", q=16, r=4)
    fname = {r["grp"]: "even" if r["grp"] == 0 else "odd" for r in filters.collect()}
    assert set(fname.values()) == {"even", "odd"}
    cross = keyed.crossJoin(
        F.broadcast(filters.withColumnRenamed("grp", "fgrp"))
    ).where(F.col("grp") != F.col("fgrp"))
    got = (
        cross.where(filter_contains("filter", "h"))
        .groupBy("fgrp").count().orderBy("fgrp").collect()
    )
    want = duckdb.sql(f"""
        WITH keyed AS (
          SELECT o_orderkey % 2 AS grp, hash(o_orderkey) & 1048575 AS sig
          FROM read_parquet('{SF}/orders.parquet')),
        sigs AS (SELECT DISTINCT grp, sig FROM keyed)
        SELECT s.grp AS fgrp, count(*) AS fp
        FROM keyed k JOIN sigs s ON s.sig = k.sig AND s.grp <> k.grp
        GROUP BY s.grp ORDER BY s.grp
    """).fetchall()
    assert [(r["fgrp"], r["count"]) for r in got] == [(g, c) for g, c in want]


def test_duckdb_bloom_probe_hashes_values_itself(spark, orders):
    keyed = orders.select("o_orderkey", duckdb_hash("v1.0.0", "o_orderkey").alias("h"))
    filt = build_filter(keyed, [], "h", "duckdb_bloom", num_sectors=1024)
    n = (
        orders.crossJoin(F.broadcast(filt))
        .where(duckdb_bloom_probe("v1.0.0", "filter", "o_orderkey"))
        .count()
    )
    assert n == orders.count()


@pytest.mark.parametrize("kind", ["xor8", "xor16", "fuse8", "fuse16"])
def test_sharded_peeled_build_members(spark, orders, kind):
    """num_shards splits a peeled group into hash-prefix sub-filters built
    in parallel; the SHRD container must still answer membership with no
    false negatives (per group) and probe FPs only at the sub-filter rate."""
    keyed = orders.select(
        (F.col("o_orderkey") % 2).alias("grp"), spark_hash64("o_orderkey").alias("h")
    )
    filters = build_filter(keyed, ["grp"], "h", kind, num_shards=4)
    blobs = {r["grp"]: bytes(r["filter"]) for r in filters.collect()}
    assert all(b[:4] == b"SHRD" for b in blobs.values())
    probed = keyed.join(F.broadcast(filters), "grp")
    got = probed.where(filter_contains("filter", "h")).groupBy("grp").count()
    want = keyed.groupBy("grp").count()
    assert {(r["grp"], r["count"]) for r in got.collect()} == {
        (r["grp"], r["count"]) for r in want.collect()
    }


def test_sharded_container_roundtrip():
    import numpy as np
    from bitfilters_spark.core import xor as X
    from bitfilters_spark.functions.filters import (
        _probe_blob,
        _shard_of,
        shard_pack,
    )

    rng = np.random.default_rng(3)
    hashes = rng.integers(0, 2**64, size=5000, dtype=np.uint64)
    ns = 4
    shards = _shard_of(hashes, ns)
    blobs = {
        int(s): X.xor_build(hashes[shards == s], 8) for s in np.unique(shards)
    }
    blob = shard_pack(ns, blobs)
    assert _probe_blob(blob, hashes).all()
    other = rng.integers(0, 2**64, size=20000, dtype=np.uint64)
    fp = _probe_blob(blob, other).mean()
    assert fp < 0.02  # xor8 fp ~ 1/256 per shard


def test_build_filters_multi_matches_individual_builds(spark, orders):
    """One-scan multi-build must produce byte-identical blobs for the
    deterministic mergeable kinds and membership-equivalent peeled blobs."""
    from bitfilters_spark.functions.filters import _probe_blob, build_filters_multi
    import numpy as np

    keyed = orders.select(spark_hash64("o_orderkey").alias("h"))
    specs = [
        ("quotient", "quotient", {"q": 16, "r": 4}),
        ("xor8", "xor8", {}),
        ("bloom", "bloom", {"n": 2000, "fpp": 0.01}),
        ("duckdb_bloom", "duckdb_bloom", {"num_sectors": 512}),
    ]
    multi = {
        r["filter_type"]: bytes(r["filter"])
        for r in build_filters_multi(keyed, "h", specs).collect()
    }
    assert set(multi) == {s[0] for s in specs}
    hashes = np.array([r["h"] for r in keyed.collect()], dtype=np.int64).view(np.uint64)
    for name, kind, kw in specs:
        single = bytes(
            build_filter(keyed, [], "h", kind, **kw).collect()[0]["filter"]
        )
        if kind in ("quotient", "bloom", "duckdb_bloom"):
            assert multi[name] == single, f"{name}: multi-build blob differs"
        assert _probe_blob(multi[name], hashes).all()


def test_build_filters_multi_grouped_matches_per_group_builds(spark, orders):
    """Group-aware one-scan multi-build: per-(group, kind) blobs must be
    byte-identical (mergeable kinds) / membership-equivalent (peeled) to
    separate per-group build_filter calls."""
    from bitfilters_spark.functions.filters import _probe_blob, build_filters_multi
    import numpy as np

    keyed = orders.select(
        (F.col("o_orderkey") % 3).alias("g"), spark_hash64("o_orderkey").alias("h")
    )
    specs = [
        ("quotient", "quotient", {"q": 16, "r": 4}),
        ("fuse8", "fuse8", {}),
        ("bloom", "bloom", {"n": 2000, "fpp": 0.01}),
    ]
    multi = {
        (r["g"], r["filter_type"]): bytes(r["filter"])
        for r in build_filters_multi(keyed, "h", specs, group_cols=["g"]).collect()
    }
    assert {g for g, _ in multi} == {0, 1, 2}
    for name, kind, kw in specs:
        singles = {
            r["g"]: bytes(r["filter"])
            for r in build_filter(keyed, ["g"], "h", kind, **kw).collect()
        }
        for g in (0, 1, 2):
            members = np.array(
                [r["h"] for r in keyed.where(F.col("g") == g).collect()],
                dtype=np.int64,
            ).view(np.uint64)
            assert _probe_blob(multi[(g, name)], members).all()
            if kind in ("quotient", "bloom"):
                assert multi[(g, name)] == singles[g], f"{name}@{g} differs"


def test_filter_describe_sniffs_kinds(spark, orders):
    from bitfilters_spark.functions import filter_describe

    keyed = orders.select(spark_hash64("o_orderkey").alias("h"))
    rows = []
    for kind, want in [("quotient", "quotient"), ("xor8", "xor"),
                       ("fuse16", "binary_fuse"), ("bloom", "bloom"),
                       ("duckdb_bloom", "duckdb_bloom")]:
        f = build_filter(keyed, [], "h", kind, n=2000, num_sectors=256)
        desc = filter_describe(f).collect()[0]
        rows.append((kind, desc["filter_kind"], desc["size_bytes"]))
        assert desc["filter_kind"] == want and desc["size_bytes"] > 0, rows


def test_quotient_remove_deletes_fingerprints(spark):
    from bitfilters_spark.functions import quotient_filter_remove

    df = spark.range(0, 1000).select(spark_hash64("id").alias("h"), "id")
    filt = build_filter(df, [], "h", "quotient", q=16, r=8)
    dels = df.where(F.col("id") < 500)
    updated = quotient_filter_remove(filt, dels, "h")
    probed = df.crossJoin(F.broadcast(updated)).where(filter_contains("filter", "h"))
    kept = {r["id"] for r in probed.select("id").collect()}
    # all non-deleted keys still present (no false negatives)
    assert set(range(500, 1000)) <= kept
    # deleted keys gone unless a surviving key shares their 24-bit fingerprint
    import numpy as np
    from bitfilters_spark.core.quotient import qf_fingerprints
    hs = {r["id"]: r["h"] for r in df.collect()}
    fp = lambda i: int(qf_fingerprints(np.array([hs[i]], dtype=np.int64).view(np.uint64), 16, 8)[0])  # noqa: E731
    surviving_fps = {fp(i) for i in range(500, 1000)}
    for i in range(500):
        if i in kept:
            assert fp(i) in surviving_fps


def test_mergeable_build_equals_bulk(spark, orders):
    """Two-phase (partials + merge) must equal a single-node bulk build."""
    import numpy as np
    from bitfilters_spark.core import bloom as B
    keyed = orders.select(spark_hash64("o_orderkey").alias("h")).repartition(6)
    blob = build_filter(keyed, [], "h", "duckdb_bloom", num_sectors=512).collect()[0]["filter"]
    hashes = np.array([r["h"] for r in keyed.collect()], dtype=np.int64).view(np.uint64)
    bulk = B.duckdb_bloom_serialize(B.duckdb_bloom_build(hashes, 512))
    assert bytes(blob) == bulk


# ------------------------------------------------------------- merge ---


@pytest.mark.parametrize("kind,kw", [
    ("bloom", {"n": 2000, "fpp": 0.01}),
    ("duckdb_bloom", {"num_sectors": 2048}),
    ("quotient", {"q": 16, "r": 4}),
])
def test_merge_equals_build_on_union(spark, orders, kind, kw):
    """merge(build(A), build(B)) must be byte-identical to build(A ∪ B) for
    the mergeable family — the algebra behind hierarchical filter rollup."""
    from bitfilters_spark.functions.filters import merge_filters

    keyed = orders.select(
        (F.col("o_orderkey") % 4).alias("g4"), spark_hash64("o_orderkey").alias("h")
    ).withColumn("g2", F.col("g4") / 2)
    keyed = keyed.withColumn("g2", F.floor("g2").cast("long"))
    fine = build_filter(keyed, ["g4", "g2"], "h", kind, **kw)
    merged = merge_filters(fine, ["g2"])
    direct = build_filter(keyed, ["g2"], "h", kind, **kw)
    got = {r["g2"]: bytes(r["filter"]) for r in merged.collect()}
    want = {r["g2"]: bytes(r["filter"]) for r in direct.collect()}
    assert got == want


def test_merge_rejects_peeled(spark, orders):
    import numpy as np
    from bitfilters_spark.core import bksample as BKS
    from bitfilters_spark.functions.filters import merge_filters

    keyed = orders.select(
        (F.col("o_orderkey") % 2).alias("grp"), spark_hash64("o_orderkey").alias("h")
    )
    for kind in ("xor8", "ribbon8"):
        fine = build_filter(keyed, ["grp"], "h", kind)
        with pytest.raises(Exception, match="not mergeable"):
            merge_filters(fine, []).collect()
    hs = np.arange(1, 100, dtype=np.uint64)
    sample = BKS.bks_build(hs, hs.astype(np.int64), 16)
    samples = spark.createDataFrame([(0, sample), (1, sample)], "grp int, filter binary")
    with pytest.raises(Exception, match="not mergeable"):
        merge_filters(samples, []).collect()


def test_merge_global(spark, orders):
    from bitfilters_spark.functions.filters import merge_filters

    keyed = orders.select(
        (F.col("o_orderkey") % 2).alias("grp"), spark_hash64("o_orderkey").alias("h")
    )
    fine = build_filter(keyed, ["grp"], "h", "bloom", n=2000, fpp=0.01)
    merged = merge_filters(fine, [])
    assert merged.count() == 1
    n = (
        keyed.crossJoin(F.broadcast(merged))
        .where(filter_contains("filter", "h"))
        .count()
    )
    assert n == keyed.count()


def test_cms_two_phase_build_and_merge(spark, orders):
    """CMS rides the same mergeable machinery: per-group two-phase build is
    byte-identical to a single-pass build, merge_filters to coarser groups
    equals build-on-union, and estimates match exact counts at wide w."""
    from bitfilters_spark.functions.filters import cms_estimate, merge_filters

    keyed = orders.select(
        (F.col("o_orderkey") % 4).alias("g4"), spark_hash64("o_custkey").alias("h")
    ).withColumn("g2", F.floor(F.col("g4") / 2).cast("long"))
    fine = build_filter(keyed, ["g4", "g2"], "h", "cms", d=4, w=1 << 15)
    merged = merge_filters(fine, ["g2"])
    direct = build_filter(keyed, ["g2"], "h", "cms", d=4, w=1 << 15)
    got = {r["g2"]: bytes(r["filter"]) for r in merged.collect()}
    want = {r["g2"]: bytes(r["filter"]) for r in direct.collect()}
    assert got == want

    # estimates == exact per-key counts (w wide enough for no collisions)
    est = (
        keyed.select("g2", "h").distinct()
        .join(F.broadcast(direct), "g2")
        .select("g2", "h", cms_estimate("filter", "h").alias("est"))
    )
    exact = keyed.groupBy("g2", "h").count()
    j = est.join(exact, ["g2", "h"])
    assert j.where(F.col("est") != F.col("count")).count() == 0


def test_cms_rejected_by_membership_probe(spark, orders):
    keyed = orders.select(spark_hash64("o_orderkey").alias("h"))
    blob = build_filter(keyed, [], "h", "cms", d=2, w=1024)
    probed = keyed.crossJoin(F.broadcast(blob)).select(
        filter_contains("filter", "h").alias("c")
    )
    with pytest.raises(Exception, match="not a membership"):
        probed.collect()


def test_kmv_two_phase_build_and_estimates(spark, orders):
    """KMV rides the mergeable machinery: two-phase == single-pass
    byte-exact, merged rollup == build-on-union, and estimates are exact
    under capacity."""
    from bitfilters_spark.functions.filters import kmv_distinct, merge_filters

    keyed = orders.select(
        (F.col("o_orderkey") % 4).alias("g4"), spark_hash64("o_custkey").alias("h")
    ).withColumn("g2", F.floor(F.col("g4") / 2).cast("long"))
    fine = build_filter(keyed, ["g4", "g2"], "h", "kmv", k=1 << 15)
    merged = merge_filters(fine, ["g2"])
    direct = build_filter(keyed, ["g2"], "h", "kmv", k=1 << 15)
    got = {r["g2"]: bytes(r["filter"]) for r in merged.collect()}
    want = {r["g2"]: bytes(r["filter"]) for r in direct.collect()}
    assert got == want

    est = {
        r["g2"]: r["est"]
        for r in direct.select("g2", kmv_distinct("filter").alias("est")).collect()
    }
    exact = {
        r["g2"]: r["n"]
        for r in keyed.groupBy("g2")
        .agg(F.countDistinct("h").alias("n"))
        .collect()
    }
    assert est == exact  # under capacity => exact


def test_multi_build_includes_sketches(spark, orders):
    """build_filters_multi covers the sketch kinds in the same single
    scan, byte-identical to standalone builds."""
    from bitfilters_spark.functions.filters import build_filters_multi

    keyed = orders.select(spark_hash64("o_orderkey").alias("h"))
    multi = {
        r["filter_type"]: bytes(r["filter"])
        for r in build_filters_multi(
            keyed, "h",
            [
                ("cms", "cms", {"d": 2, "w": 1024}),
                ("kmv", "kmv", {"k": 64}),
                ("hll", "hll", {"p": 12}),
                ("mg", "mg", {"k": 16}),
            ],
        ).collect()
    }
    solo_cms = bytes(
        build_filter(keyed, [], "h", "cms", d=2, w=1024).collect()[0]["filter"]
    )
    solo_kmv = bytes(
        build_filter(keyed, [], "h", "kmv", k=64).collect()[0]["filter"]
    )
    solo_hll = bytes(
        build_filter(keyed, [], "h", "hll", p=12).collect()[0]["filter"]
    )
    solo_mg = bytes(
        build_filter(keyed, [], "h", "mg", k=16).collect()[0]["filter"]
    )
    assert multi == {
        "cms": solo_cms, "kmv": solo_kmv, "hll": solo_hll, "mg": solo_mg
    }


def test_merge_rejects_mismatched_params(spark, orders):
    """Merging incompatible blobs must error clearly, never corrupt."""
    from bitfilters_spark.functions.filters import merge_filters

    keyed = orders.select(
        (F.col("o_orderkey") % 2).alias("grp"), spark_hash64("o_orderkey").alias("h")
    )
    a = build_filter(keyed.where("grp = 0"), [], "h", "kmv", k=32)
    b = build_filter(keyed.where("grp = 1"), [], "h", "kmv", k=64)
    both = a.union(b)
    with pytest.raises(Exception, match="different k"):
        merge_filters(both, []).collect()

    c = build_filter(keyed.where("grp = 0"), [], "h", "cms", d=2, w=64)
    d = build_filter(keyed.where("grp = 1"), [], "h", "cms", d=2, w=128)
    with pytest.raises(Exception, match="different"):
        merge_filters(c.union(d), []).collect()


def test_filter_describe_diagnostics(spark, orders):
    """n_entries for set-storing kinds, fill ratio + implied FPP for
    bitmap kinds (fill^k must sit near the configured target when the
    filter is built at capacity)."""
    from bitfilters_spark.functions import filter_describe

    keyed = orders.select(spark_hash64("o_orderkey").alias("h"))
    n = keyed.count()
    bloom = build_filter(keyed, [], "h", "bloom", n=n, fpp=0.01)
    row = filter_describe(bloom).collect()[0]
    assert 0.3 < row["fill_ratio"] < 0.7  # ~half full at capacity
    assert 0.001 < row["est_fpp"] < 0.05  # implied FPP near the target

    qf = build_filter(keyed, [], "h", "quotient", q=16, r=8)
    row = filter_describe(qf).collect()[0]
    assert row["n_entries"] == n  # 24-bit fingerprints: no collisions at this n
    assert row["fill_ratio"] is None and row["est_fpp"] is None


def test_multi_build_sharded_peeled_kind(spark, orders):
    """r10: a peeled spec carrying num_shards in build_filters_multi
    distributes the group's construction across (group, kind, shard)
    finish tasks and assembles a SHRD container — membership stays
    exact, the container equals shard_pack over per-shard kernel builds
    byte-for-byte, and non-sharded specs in the same call are untouched."""
    import numpy as np

    from bitfilters_spark.core.ribbon import ribbon_build
    from bitfilters_spark.functions import build_filters_multi, probe_filter
    from bitfilters_spark.functions.filters import _shard_of, shard_pack

    keyed = orders.select(
        (F.col("o_orderkey") % 2).alias("grp"),
        spark_hash64("o_orderkey").alias("h"),
    )
    specs = [("ribbon8", "ribbon8", {"num_shards": 4}), ("xor8", "xor8", {})]
    rows = build_filters_multi(keyed, "h", specs, group_cols=["grp"]).collect()
    by = {}
    for r in rows:
        by.setdefault(r["filter_type"], {})[(r["grp"],)] = bytes(r["filter"])
    assert by["ribbon8"][(0,)][:4] == b"SHRD"
    assert by["xor8"][(0,)][:4] == b"XORF"  # non-sharded spec untouched
    for name in ("ribbon8", "xor8"):
        got = (
            probe_filter(keyed, by[name], "h", on=["grp"])
            .where(F.col("__contains"))
            .count()
        )
        assert got == keyed.count(), f"{name}: false negative"
    # container == shard_pack over per-shard kernel builds (exact split)
    hs = np.array(
        [r["h"] for r in keyed.where(F.col("grp") == 0).collect()],
        dtype=np.int64,
    ).view(np.uint64)
    hs = np.unique(hs)
    sh = _shard_of(hs, 4)
    want = shard_pack(
        4, {int(s): ribbon_build(hs[sh == s], 8) for s in np.unique(sh)}
    )
    assert by["ribbon8"][(0,)] == want


# Small enough parameters that every kind builds over a few thousand keys;
# mg's k exceeds the distinct keys per group, so it stays exact.
_KIND_PARAMS = {
    "quotient": {"q": 16, "r": 4},
    "cuckoo": {"nbuckets": 4096, "fp_bits": 12, "bucket_size": 4},
    "duckdb_bloom": {"num_sectors": 512},
    "bloom": {"n": 2000, "fpp": 0.01},
    "cms": {"d": 2, "w": 1024},
    "kmv": {"k": 64},
    "hll": {"p": 10},
    "mg": {"k": 4096},
    "xor8": {}, "xor16": {}, "fuse8": {}, "fuse16": {},
    "ribbon8": {}, "ribbon16": {},
}
_MERGEABLE_KINDS = [
    "quotient", "cuckoo", "duckdb_bloom", "bloom", "cms", "kmv", "hll", "mg"
]


def _core_bulk_build(kind, hs, p):
    """The core kernel's one-shot build of a whole key set."""
    import numpy as np
    from bitfilters_spark.core import bloom as B
    from bitfilters_spark.core import cms as CM
    from bitfilters_spark.core import cuckoo as CKF
    from bitfilters_spark.core import hll as HL
    from bitfilters_spark.core import kmv as KV
    from bitfilters_spark.core import mg as MG
    from bitfilters_spark.core import quotient as Q

    hs = np.asarray(hs, dtype=np.int64).view(np.uint64)
    return {
        "quotient": lambda: Q.qf_build(hs, p["q"], p["r"]),
        "cuckoo": lambda: CKF.ck_build(hs, p["nbuckets"], p["fp_bits"], p["bucket_size"]),
        "duckdb_bloom": lambda: B.duckdb_bloom_serialize(
            B.duckdb_bloom_build(hs, p["num_sectors"])
        ),
        "bloom": lambda: B.bloom_serialize(
            B.bloom_build(hs, p["n"], p["fpp"]), B.bloom_params(p["n"], p["fpp"])[1]
        ),
        "cms": lambda: CM.cms_build(hs, p["d"], p["w"]),
        "kmv": lambda: KV.kmv_build(hs, p["k"]),
        "hll": lambda: HL.hll_build(hs, p["p"]),
        "mg": lambda: MG.mg_build(hs, p["k"]),
    }[kind]()


def _hashes_by_group(keyed):
    out = {}
    for r in keyed.collect():
        out.setdefault(r["g"], []).append(r["h"])
    return out


@pytest.fixture(scope="module")
def fold_input(spark):
    """6 partitions of 1000 rows over 3 groups, and each group's hashes."""
    keyed = spark.range(0, 6000, numPartitions=6).select(
        (F.col("id") % 3).alias("g"), F.xxhash64(F.col("id") % 2000).alias("h")
    )
    return keyed, _hashes_by_group(keyed)


@pytest.mark.parametrize("kind", _MERGEABLE_KINDS)
def test_partial_fold_matches_core_bulk_build(spark, fold_input, kind):
    """Grouped build_filter and build_filters_multi both equal, byte for
    byte, the core kernel's bulk build of each group's hashes — over 6
    partitions of 2 Arrow batches each, so batch states combine and
    partition partials merge."""
    from bitfilters_spark.functions import build_filters_multi

    p = _KIND_PARAMS[kind]
    keyed, by_group = fold_input
    want = {g: _core_bulk_build(kind, hs, p) for g, hs in by_group.items()}
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "500")
    try:
        single = {
            r["g"]: bytes(r["filter"])
            for r in build_filter(keyed, ["g"], "h", kind, **p).collect()
        }
        multi = {
            r["g"]: bytes(r["filter"])
            for r in build_filters_multi(
                keyed, "h", [(kind, kind, p)], group_cols=["g"]
            ).collect()
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    assert set(want) == {0, 1, 2}
    assert single == want
    assert multi == want


@pytest.fixture(scope="module")
def null_group_input(spark):
    """300 rows in groups 1, 2 and NULL, and the NULL group's hashes."""
    keyed = spark.range(0, 300, numPartitions=3).select(
        F.when(F.col("id") % 3 != 0, F.col("id") % 3).cast("int").alias("g"),
        F.xxhash64("id").alias("h"),
    )
    return keyed, _hashes_by_group(keyed)[None]


@pytest.mark.parametrize("kind", sorted(_KIND_PARAMS))
def test_null_group_gets_its_own_filter(spark, null_group_input, kind):
    """A NULL group key is a group of its own, as in SQL GROUP BY: every
    kind emits a blob for it, and that blob holds the NULL group's keys."""
    import numpy as np
    from bitfilters_spark.core import cms as CM
    from bitfilters_spark.core import hll as HL
    from bitfilters_spark.core import kmv as KV
    from bitfilters_spark.core import mg as MG
    from bitfilters_spark.functions.filters import _probe_blob

    keyed, null_hs = null_group_input
    blobs = {
        r["g"]: bytes(r["filter"])
        for r in build_filter(keyed, ["g"], "h", kind, **_KIND_PARAMS[kind]).collect()
    }
    assert set(blobs) == {None, 1, 2}
    hs = np.array(null_hs, dtype=np.int64).view(np.uint64)
    blob = blobs[None]
    holds = {
        "cms": lambda: (CM.cms_estimate(blob, hs) >= 1).all(),
        "kmv": lambda: set(KV.kmv_deserialize(blob)[1].tolist())
        == set(np.unique(hs)[:64].tolist()),
        "hll": lambda: abs(HL.hll_estimate(blob) - len(hs)) <= 2,
        "mg": lambda: (MG.mg_estimate(blob, hs) == 1).all(),
    }.get(kind, lambda: _probe_blob(blob, hs).all())
    assert holds()


_BIG = 2**53 + 1  # the smallest bigint float64 cannot hold


def _one_partition(spark, rows):
    return spark.createDataFrame(rows, "g long, h long").coalesce(1)


@pytest.mark.parametrize("kind", ["quotient", "bloom"])
def test_fold_keeps_bigint_group_keys_exact_beside_a_null(spark, kind):
    """The partial fold reads group keys from Arrow: a bigint key above
    2^53 in a batch that also holds a NULL key comes back exact (through
    pandas the column became float64 and 2^53 + 1 came back as 2^53)."""
    from bitfilters_spark.functions import build_filters_multi

    keyed = _one_partition(spark, [(_BIG, 11), (None, 12), (5, 13)])
    p = _KIND_PARAMS[kind]
    single = build_filter(keyed, ["g"], "h", kind, **p).collect()
    multi = build_filters_multi(keyed, "h", [(kind, kind, p)], group_cols=["g"]).collect()
    assert sorted(r["g"] for r in single if r["g"] is not None) == [5, _BIG]
    assert sorted(r["g"] for r in multi if r["g"] is not None) == [5, _BIG]
    assert len(single) == len(multi) == 3


@pytest.mark.parametrize("kind", ["xor8", "duckdb_bloom", "bloom"])
def test_grouped_probe_keys_stay_exact_beside_a_null(spark, kind):
    """A grouped probe finds the blob of a bigint key above 2^53 when the
    batch also holds a NULL key (through pandas the key became 2^53 and
    its member probed False); the NULL key probes False."""
    from bitfilters_spark.functions import probe_filter

    filters = build_filter(
        _one_partition(spark, [(_BIG, 777), (5, 777)]), ["g"], "h", kind,
        **_KIND_PARAMS[kind],
    )
    rows = _one_partition(spark, [(_BIG, 777), (None, 777), (5, 777)])
    got = {
        r["g"]: r["__contains"]
        for r in probe_filter(rows, filters, "h", on=["g"]).collect()
    }
    assert got == {_BIG: True, None: False, 5: True}


@pytest.mark.parametrize("kind", ["duckdb_bloom", "xor8"])
@pytest.mark.parametrize("ntz", [False, True])
def test_grouped_probe_by_a_timestamp_key_finds_its_members(spark, kind, ntz):
    """A timestamp group key matches between the collected filters and the
    probe UDF (both key it by epoch micros). The collected key was a naive
    ``datetime`` and the UDF's an aware one, so every member probed
    False; a timestamp with no filter still probes False."""
    import datetime

    from bitfilters_spark.functions import probe_filter

    t_type = "timestamp_ntz" if ntz else "timestamp"
    t1, t2 = datetime.datetime(2024, 1, 1, 12), datetime.datetime(2024, 6, 1, 3, 0, 0, 7)
    built = spark.createDataFrame([(t1, 11), (t2, 12)], f"t {t_type}, h long")
    filters = build_filter(built, ["t"], "h", kind, **_KIND_PARAMS[kind])
    collected = {(r["t"],): bytes(r["filter"]) for r in filters.collect()}
    rows = spark.createDataFrame(
        [(t1, 11), (t2, 12), (datetime.datetime(2030, 1, 1), 11)], f"t {t_type}, h long"
    )
    for f in (filters, collected):
        got = [r["__contains"] for r in probe_filter(rows, f, "h", on=["t"]).orderBy("t").collect()]
        assert got == [True, True, False]
