import glob

import pytest
from pyspark.sql import functions as F

from bitfilters_spark.sources.skipping import (
    build_file_index,
    key_hashes,
    load_index,
    make_file_partitioned_copy,
    prune_files,
    save_index,
    skipping_read,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def part_dir(spark, tmp_path_factory):
    dest = str(tmp_path_factory.mktemp("skip") / "orders")
    make_file_partitioned_copy(
        spark, f"{SF}/orders.parquet", dest, "o_custkey", num_files=8
    )
    return dest


def test_index_has_one_row_per_file(spark, part_dir):
    idx = build_file_index(spark, part_dir, ["o_custkey"], "bloom", n=5000, fpp=0.01)
    n_files = len(glob.glob(f"{part_dir}/part-*.parquet"))
    assert idx.count() == n_files


def test_prune_skips_files_and_read_is_exact(spark, part_dir):
    idx = build_file_index(spark, part_dir, ["o_custkey"], "bloom", n=5000, fpp=0.01)
    full = spark.read.parquet(part_dir)
    some_keys = [r["o_custkey"] for r in full.select("o_custkey").distinct().limit(3).collect()]

    files = prune_files(idx, key_hashes(spark, some_keys))
    n_files = len(glob.glob(f"{part_dir}/part-*.parquet"))
    # range-partitioned by the key: 3 keys live in at most 3 files (+ FPs)
    assert 1 <= len(files) < n_files

    got = skipping_read(spark, part_dir, "o_custkey", some_keys, index=idx)
    want = full.where(F.col("o_custkey").isin(some_keys))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_absent_keys_prune_everything(spark, part_dir):
    idx = build_file_index(spark, part_dir, ["o_custkey"], "bloom", n=5000, fpp=0.001)
    got = skipping_read(spark, part_dir, "o_custkey", [-1, -2], index=idx)
    assert got.count() == 0


def test_skipping_read_over_an_int32_key(spark, tmp_path):
    """The index hashes an int column as bigint, as ``key_hashes`` hashes
    Python ints; hashing it as 4 bytes pruned every file (0 of 3 rows)."""
    dest = str(tmp_path / "ints")
    spark.range(0, 3000, numPartitions=4).select(
        F.col("id").cast("int").alias("k"), F.col("id").alias("v")
    ).write.parquet(dest)
    idx = build_file_index(spark, dest, ["k"], "bloom", n=1000, fpp=0.01)
    got = skipping_read(spark, dest, "k", [5, 1500, 2999], index=idx)
    assert sorted(r["v"] for r in got.collect()) == [5, 1500, 2999]


def test_index_roundtrip(spark, part_dir, tmp_path):
    idx = build_file_index(spark, part_dir, ["o_custkey"], "duckdb_bloom", num_sectors=1024)
    p = str(tmp_path / "idx")
    save_index(idx, p)
    idx2 = load_index(spark, p)
    full = spark.read.parquet(part_dir)
    keys = [r["o_custkey"] for r in full.select("o_custkey").distinct().limit(2).collect()]
    assert prune_files(idx2, key_hashes(spark, keys)) == prune_files(
        idx, key_hashes(spark, keys)
    )


def test_multi_column_index(spark, tmp_path):
    """Index over a composite key: probes hash the same column tuple."""
    import numpy as np

    from bitfilters_spark.functions.hashing import spark_hash64

    dest = str(tmp_path / "ev")
    spark.read.parquet("/root/testdata/sf0.001/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    ).repartitionByRange(4, "o_custkey").write.parquet(dest)
    idx = build_file_index(
        spark, dest, ["o_custkey", "o_orderpriority"], "bloom", n=5000, fpp=0.01
    )
    full = spark.read.parquet(dest)
    probe = full.select("o_custkey", "o_orderpriority").limit(2)
    hashes = np.array(
        [
            r["h"]
            for r in probe.select(
                spark_hash64("o_custkey", "o_orderpriority").alias("h")
            ).collect()
        ],
        dtype=np.int64,
    ).view(np.uint64)
    files = prune_files(idx, hashes)
    assert 1 <= len(files) <= 4


def test_skipping_read_autobuilds_index(spark, part_dir):
    got = skipping_read(
        spark, part_dir, "o_custkey", [5], kind="bloom", n=5000, fpp=0.01
    )
    want = spark.read.parquet(part_dir).where(F.col("o_custkey") == 5)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_zone_index_prunes_ranges_and_read_is_exact(spark, part_dir):
    from bitfilters_spark.sources.skipping import (
        build_zone_index,
        prune_files_range,
        zone_read,
    )

    zi = build_zone_index(spark, part_dir, ["o_custkey"])
    n_files = len(glob.glob(f"{part_dir}/part-*.parquet"))
    assert zi.count() == n_files
    full = spark.read.parquet(part_dir)
    lo, hi = 20, 40
    keep = prune_files_range(zi, "o_custkey", lo, hi)
    # range-ordered layout: a narrow range must prune most files
    assert 0 < len(keep) < n_files
    got = zone_read(spark, part_dir, "o_custkey", lo, hi, zone_index=zi)
    want = full.where((F.col("o_custkey") >= lo) & (F.col("o_custkey") <= hi))
    assert sorted(r["o_orderkey"] for r in got.collect()) == sorted(
        r["o_orderkey"] for r in want.collect()
    )
    # open bounds
    got_open = zone_read(spark, part_dir, "o_custkey", lo=None, hi=5, zone_index=zi)
    want_open = full.where(F.col("o_custkey") <= 5)
    assert got_open.count() == want_open.count()


def test_zone_index_empty_range_reads_nothing(spark, part_dir):
    from bitfilters_spark.sources.skipping import build_zone_index, zone_read

    zi = build_zone_index(spark, part_dir, ["o_custkey"])
    out = zone_read(
        spark, part_dir, "o_custkey", 10_000_000, 20_000_000, zone_index=zi
    )
    assert out.count() == 0


def test_refresh_file_index_scans_only_new_files(spark, tmp_path):
    """Incremental index maintenance: surviving rows keep their exact
    blobs, deleted files drop out, only new files are built; the
    refreshed index prunes exactly like a from-scratch rebuild."""
    import os
    import shutil

    from bitfilters_spark.sources.skipping import (
        key_hashes,
        refresh_file_index,
    )

    d = str(tmp_path / "evolving")
    os.makedirs(d)
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    lo = orders.where("o_custkey < 50")
    hi = orders.where("o_custkey >= 50")
    lo.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "lo"))
    hi.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "hi"))
    f_lo = glob.glob(str(tmp_path / "lo" / "part-*.parquet"))[0]
    f_hi = glob.glob(str(tmp_path / "hi" / "part-*.parquet"))[0]
    shutil.copy(f_lo, f"{d}/a.parquet")

    idx1 = build_file_index(spark, d, ["o_custkey"], "bloom", n=5000, fpp=0.01)
    blobs1 = {r["file"]: bytes(r["filter"]) for r in idx1.collect()}

    # dataset evolves: one file added
    shutil.copy(f_hi, f"{d}/b.parquet")
    idx2 = refresh_file_index(
        spark, d, idx1, ["o_custkey"], "bloom", n=5000, fpp=0.01
    )
    blobs2 = {r["file"]: bytes(r["filter"]) for r in idx2.collect()}
    assert len(blobs2) == 2
    (old_file,) = blobs1
    assert blobs2[old_file] == blobs1[old_file]  # kept byte-identical
    # refreshed index ≡ from-scratch rebuild
    scratch = {
        r["file"]: bytes(r["filter"])
        for r in build_file_index(
            spark, d, ["o_custkey"], "bloom", n=5000, fpp=0.01
        ).collect()
    }
    assert blobs2 == scratch
    # pruning still exact: keys only in file b prune file a
    keep = prune_files(idx2, key_hashes(spark, [55, 61]))
    assert keep and all(f.endswith("b.parquet") for f in keep)

    # file removed: its row drops
    os.remove(f"{d}/a.parquet")
    idx3 = refresh_file_index(
        spark, d, idx2, ["o_custkey"], "bloom", n=5000, fpp=0.01
    )
    assert [os.path.basename(r["file"]) for r in idx3.collect()] == ["b.parquet"]


# ------------------------------------------------------------- z-order ---


def test_zorder_layout_prunes_on_every_column(spark, tmp_path):
    """A Z-ordered rewrite keeps zone maps selective on BOTH interleaved
    columns: a narrow range predicate on either column must prune most
    files, while a single-column ordered layout only prunes on its own
    column. Content must survive the rewrite exactly."""
    from bitfilters_spark.sources.io import compact_files, zorder_layout
    from bitfilters_spark.sources.skipping import (
        build_zone_index,
        prune_files_range,
    )

    src = str(tmp_path / "zsrc")
    zdest = str(tmp_path / "zdest")
    odest = str(tmp_path / "odest")
    # a 100x100 grid: x and y are independent, so ordering by x leaves y
    # scattered across every file
    rows = [(i, i % 100, i // 100) for i in range(10_000)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    df.repartition(8).write.parquet(src)

    target = 6_000  # ~16 files from this dataset
    zorder_layout(spark, src, zdest, ["x", "y"], target_file_bytes=target)
    compact_files(spark, src, odest, target_file_bytes=target, order_col="x")

    def frac_pruned(path, col, lo, hi):
        zi = build_zone_index(spark, path, ["x", "y"])
        all_files = [r["file"] for r in zi.collect()]
        kept = prune_files_range(zi, col, lo, hi)
        return 1.0 - len(kept) / len(all_files), len(all_files)

    zx, nz = frac_pruned(zdest, "x", 10, 19)
    zy, _ = frac_pruned(zdest, "y", 10, 19)
    ox, no = frac_pruned(odest, "x", 10, 19)
    oy, _ = frac_pruned(odest, "y", 10, 19)
    assert nz >= 8 and no >= 8  # enough files for pruning to mean anything
    assert ox > 0.5  # ordered layout prunes on its own column...
    assert oy == 0.0  # ...but not at all on the other
    assert zx > 0.4 and zy > 0.4  # z-order prunes on BOTH
    # rewrite is content-identical
    a = sorted(tuple(r) for r in spark.read.parquet(zdest).collect())
    b = sorted(tuple(r) for r in spark.read.parquet(src).collect())
    assert a == b


def test_stats_index_aggregates_exactly_match_full_scan(spark, part_dir):
    from bitfilters_spark.sources.skipping import (
        aggregate_from_index,
        build_stats_index,
    )

    idx = build_stats_index(spark, part_dir, ["o_totalprice", "o_custkey"])
    got = aggregate_from_index(idx, ["o_totalprice", "o_custkey"]).collect()[0]

    full = spark.read.parquet(part_dir)
    want = full.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("o_totalprice").alias("p_min"),
        F.max("o_totalprice").alias("p_max"),
        F.count("o_totalprice").alias("p_count"),
        F.sum("o_totalprice").alias("p_sum"),
        F.avg("o_totalprice").alias("p_avg"),
        F.min("o_custkey").alias("c_min"),
        F.max("o_custkey").alias("c_max"),
        F.sum("o_custkey").alias("c_sum"),
    ).collect()[0]

    assert got["n_rows"] == want["n_rows"]
    assert got["o_totalprice_min"] == want["p_min"]
    assert got["o_totalprice_max"] == want["p_max"]
    assert got["o_totalprice_count"] == want["p_count"]
    assert got["o_totalprice_sum"] == pytest.approx(want["p_sum"], rel=1e-12)
    assert got["o_totalprice_avg"] == pytest.approx(want["p_avg"], rel=1e-12)
    assert got["o_custkey_min"] == want["c_min"]
    assert got["o_custkey_max"] == want["c_max"]
    assert got["o_custkey_sum"] == want["c_sum"]


def test_stats_index_all_null_column_yields_null_avg(spark, tmp_path):
    from bitfilters_spark.sources.skipping import (
        aggregate_from_index,
        build_stats_index,
    )

    dest = str(tmp_path / "nulls")
    spark.createDataFrame(
        [(1, None), (2, None)], "id int, v double"
    ).write.parquet(dest)
    idx = build_stats_index(spark, dest, ["v"])
    row = aggregate_from_index(idx, ["v"]).collect()[0]
    assert row["n_rows"] == 2
    assert row["v_count"] == 0
    assert row["v_min"] is None and row["v_max"] is None
    assert row["v_avg"] is None


def test_prune_files_multi_conjunction(spark, part_dir):
    from bitfilters_spark.sources.skipping import (
        build_zone_index, prune_files_multi, prune_files_range,
    )

    zi = build_zone_index(spark, part_dir, ["o_custkey", "o_totalprice"])
    single = set(prune_files_range(zi, "o_custkey", 10, 40))
    multi = set(prune_files_multi(zi, [("o_custkey", 10, 40)]))
    assert multi == single
    # conjunction can only prune more
    both = set(
        prune_files_multi(
            zi, [("o_custkey", 10, 40), ("o_totalprice", 0.0, 1.0)]
        )
    )
    assert both <= multi
    # exactness: reading the surviving files + exact predicate == full scan
    from pyspark.sql import functions as F
    full = spark.read.parquet(part_dir).where(
        (F.col("o_custkey").between(10, 40))
        & (F.col("o_totalprice").between(0.0, 1.0))
    )
    if both:
        got = spark.read.parquet(*sorted(both)).where(
            (F.col("o_custkey").between(10, 40))
            & (F.col("o_totalprice").between(0.0, 1.0))
        )
        assert got.count() == full.count()
    else:
        assert full.count() == 0


def test_local_xxhash64_matches_spark(spark):
    """_xxhash64_longs (the zero-job driver-side probe hash) must be
    byte-identical to Spark's own xxhash64 over long columns — the
    parity contract key_hashes' fast path rests on."""
    import numpy as np

    from bitfilters_spark.sources.skipping import _xxhash64_longs

    vals = [0, 1, -1, 42, 7, 61, 133, 2**63 - 1, -(2**63), 123456789012345,
            -987654321098765]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    expect = np.array(
        [r["h"] for r in df.select(F.xxhash64("v").alias("h")).collect()],
        dtype=np.int64,
    ).view(np.uint64)
    got = _xxhash64_longs(vals)
    assert got.dtype == np.uint64
    assert (got == expect).all()
    # key_hashes must route pure-int lists through the local path and
    # agree with the Spark-job fallback
    assert (key_hashes(spark, vals) == expect).all()


def test_key_hashes_outside_int64_fall_back_to_spark(spark):
    """An int outside int64 cannot go through the local long hash (numpy
    raised OverflowError); the list takes the Spark path, where in-range
    ints still hash as longs, so no integral key is pruned wrongly."""
    import numpy as np

    from bitfilters_spark.sources.skipping import _xxhash64_longs

    vals = [1, 2**64, 61, -(2**63) - 1]
    got = key_hashes(spark, vals)
    assert got.dtype == np.uint64 and len(got) == len(vals)
    assert (got[[0, 2]] == _xxhash64_longs([1, 61])).all()


def test_skipping_read_leaves_out_ints_outside_int64(spark, tmp_path):
    """No bigint column holds an int outside int64, and Spark cannot make
    a literal of one (the exact predicate raised Py4JError): such ints
    match nothing, and a list of only such ints reads no row."""
    dest = str(tmp_path / "longs")
    spark.range(0, 3000, numPartitions=4).select(
        "id", (F.col("id") * 10).alias("v")
    ).write.parquet(dest)
    idx = build_file_index(spark, dest, ["id"], "bloom", n=1000, fpp=0.01)
    got = skipping_read(spark, dest, "id", [1, 2**64], index=idx)
    assert [r["v"] for r in got.collect()] == [10]
    assert skipping_read(spark, dest, "id", [2**64], index=idx).count() == 0
