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


def test_skipping_read_over_a_date_key_looked_up_by_string(spark, tmp_path):
    """The index hashes a date column as dates; a lookup by the string
    "2024-01-02" must hash the date too (hashing the string pruned the
    file that holds it and read 0 rows)."""
    dest = str(tmp_path / "dates")
    spark.range(0, 400, numPartitions=4).select(
        F.date_add(F.lit("2024-01-01").cast("date"), (F.col("id") % 40).cast("int")).alias("d"),
        F.col("id").alias("v"),
    ).write.parquet(dest)
    idx = build_file_index(spark, dest, ["d"], "bloom", n=1000, fpp=0.01)
    got = skipping_read(spark, dest, "d", ["2024-01-02"], index=idx)
    want = spark.read.parquet(dest).where(F.col("d").isin(["2024-01-02"])).count()
    assert want == 10
    assert got.count() == want


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


# ------------------------------------------------------- the index handle ---


class _Jobs:
    """Spark jobs a block runs, counted with the status tracker."""

    _n = 0

    def __init__(self, spark):
        self.sc = spark.sparkContext

    def __enter__(self):
        _Jobs._n += 1
        self.group = f"skipping-jobs-{_Jobs._n}"
        self.sc.setJobGroup(self.group, self.group)
        return self

    def __exit__(self, *exc):
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        self.count = len(self.sc.statusTracker().getJobIdsForGroup(self.group))


def _compiles(spark):
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


@pytest.fixture()
def codegen(spark):
    old = spark.conf.get("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.wholeStage", "true")
    yield spark
    spark.conf.set("spark.sql.codegen.wholeStage", old)


def _table(spark, dest, n=4000, files=4):
    spark.range(0, n, numPartitions=files).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    ).write.parquet(dest)
    return dest


def test_warm_lookup_runs_two_jobs_and_compiles_nothing(codegen, tmp_path):
    """Through a warm handle a lookup runs the scan's two jobs, no index
    collect and no schema job, and a new IN-list compiles no new class;
    the first lookup on a freshly loaded index adds one collect."""
    spark = codegen
    dest = _table(spark, str(tmp_path / "t"))
    p = str(tmp_path / "idx")
    save_index(build_file_index(spark, dest, ["k"], "bloom", n=1000, fpp=0.01), p)
    idx = load_index(spark, p)
    skipping_read(spark, dest, "k", [1], index=idx).count()  # the table's schema and files
    idx = load_index(spark, p)
    with _Jobs(spark) as first:
        assert skipping_read(spark, dest, "k", [2, 10**9], index=idx).count() == 1
    with _Jobs(spark) as warm:
        assert skipping_read(spark, dest, "k", [3, 1001, 10**9 + 1], index=idx).count() == 2
    c0 = _compiles(spark)
    with _Jobs(spark) as again:
        assert skipping_read(spark, dest, "k", [4, 2002, 10**9 + 2], index=idx).count() == 2
    assert _compiles(spark) == c0
    assert warm.count <= 2 and again.count <= 2
    assert first.count == warm.count + 1


def test_handle_collects_again_when_the_index_files_change(spark, tmp_path):
    """The handle's stamp is the (mtime, length) of the index's files: the
    same index DataFrame collects again once they change, and not before."""
    import os

    dest = _table(spark, str(tmp_path / "t"))
    p = str(tmp_path / "idx")
    save_index(build_file_index(spark, dest, ["k"], "bloom", n=1000, fpp=0.01), p)
    idx = load_index(spark, p)
    skipping_read(spark, dest, "k", [1], index=idx).count()
    with _Jobs(spark) as warm:
        skipping_read(spark, dest, "k", [2], index=idx).count()
    for f in glob.glob(f"{p}/part-*.parquet"):
        os.utime(f, ns=(0, 0))
    with _Jobs(spark) as touched:
        assert skipping_read(spark, dest, "k", [3], index=idx).count() == 1
    assert touched.count == warm.count + 1


def test_refreshed_index_saved_in_place_is_collected_and_covers_the_new_file(
    spark, tmp_path
):
    """``refresh_file_index`` then ``save_index`` to the same path: the
    index loaded from it is collected again and prunes the new file by its
    filter (it no longer reads it as an uncovered file)."""
    from bitfilters_spark.sources.skipping import refresh_file_index

    dest = _table(spark, str(tmp_path / "t"), files=2)
    p = str(tmp_path / "idx")
    save_index(build_file_index(spark, dest, ["k"], "bloom", n=1000, fpp=0.01), p)
    old = load_index(spark, p)
    skipping_read(spark, dest, "k", [1], index=old).count()
    spark.createDataFrame([(5000, 7)], "k long, v long").coalesce(1).write.mode(
        "append"
    ).parquet(dest)
    new_file = (set(spark.read.parquet(dest).inputFiles())
                - {r["file"] for r in old.collect()}).pop()
    assert prune_files(old, key_hashes(spark, [5000])) == []
    assert [r["v"] for r in skipping_read(spark, dest, "k", [5000], index=old).collect()] == [7]

    save_index(refresh_file_index(spark, dest, old, ["k"], "bloom", n=1000, fpp=0.01), p)
    new = load_index(spark, p)
    with _Jobs(spark) as first:
        got = skipping_read(spark, dest, "k", [5000], index=new).collect()
    with _Jobs(spark) as warm:
        skipping_read(spark, dest, "k", [5001], index=new).count()
    assert [r["v"] for r in got] == [7]
    assert first.count == warm.count + 1
    assert prune_files(new, key_hashes(spark, [5000])) == [new_file]


def test_skipping_read_reads_files_the_index_does_not_cover(spark, tmp_path):
    """A file added after the index was built is read, not skipped: the
    index of a 2-file table said nothing about a third file holding k=5000,
    and the lookup returned 0 rows where the exact count is 1. The zone
    read follows the same rule."""
    from bitfilters_spark.sources.skipping import build_zone_index, zone_read

    dest = _table(spark, str(tmp_path / "t"), files=2)
    idx = build_file_index(spark, dest, ["k"], "bloom", n=1000, fpp=0.01)
    zi = build_zone_index(spark, dest, ["k"])
    assert idx.count() == zi.count() == 2
    skipping_read(spark, dest, "k", [1], index=idx).count()  # caches the 2-file table
    spark.createDataFrame([(5000, 7)], "k long, v long").coalesce(1).write.mode(
        "append"
    ).parquet(dest)
    assert [r["v"] for r in skipping_read(spark, dest, "k", [5000], index=idx).collect()] == [7]
    assert [r["v"] for r in zone_read(spark, dest, "k", 4500, None, zone_index=zi).collect()] == [7]
    assert skipping_read(spark, dest, "k", [5, 5000], index=idx).count() == 2


def test_empty_and_all_null_in_lists_read_no_rows(spark, tmp_path):
    """``k IN ()`` and ``k IN (NULL)`` match nothing: both return an empty
    DataFrame with the table's schema (they raised while hashing the
    keys), and a NULL beside a key changes nothing."""
    dest = _table(spark, str(tmp_path / "t"))
    idx = build_file_index(spark, dest, ["k"], "bloom", n=1000, fpp=0.01)
    schema = spark.read.parquet(dest).schema
    for values in ([], [None], [None, None]):
        out = skipping_read(spark, dest, "k", values, index=idx)
        assert out.schema == schema
        assert out.count() == 0
    assert [r["v"] for r in skipping_read(spark, dest, "k", [None, 5], index=idx).collect()] == [50]


def test_skipping_read_of_a_table_under_a_path_with_a_space(spark, tmp_path):
    """Index rows name files by percent-encoded URI; the read decodes them."""
    dest = _table(spark, str(tmp_path / "a table"))
    idx = build_file_index(spark, dest, ["k"], "bloom", n=1000, fpp=0.01)
    assert [r["v"] for r in skipping_read(spark, dest, "k", [7], index=idx).collect()] == [70]


def test_skipping_read_keeps_partition_columns(spark, tmp_path):
    """Survivors of a partitioned table are read from its root, so the
    partition column keeps its values."""
    dest = str(tmp_path / "parted")
    spark.range(0, 1000, numPartitions=2).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("p")
    ).write.partitionBy("p").parquet(dest)
    idx = build_file_index(spark, dest, ["k"], "bloom", n=1000, fpp=0.01)
    got = skipping_read(spark, dest, "k", [4, 5], index=idx).orderBy("k").collect()
    assert [(r["k"], r["p"]) for r in got] == [(4, 1), (5, 2)]


@pytest.mark.parametrize("col,values", [
    ("i", [1, 2**31 - 1, 7]),
    ("i", [2**40, 3]),
    ("s", ["a", "c", "zz"]),
    ("n", [1, None, 3]),
    ("n", [3, 2**64, -(2**63) - 1]),
    ("d", ["2024-01-02", "2030-01-01"]),
])
def test_in_list_recheck_matches_isin(spark, tmp_path, col, values):
    """The exact re-check returns the rows ``isin`` returns over the
    non-NULL, representable values: int32, string and NULL-bearing keys,
    ints outside int64, and a date key against strings (which keeps
    ``isin``), with and without pushdown. The lookup does too, except for
    the date key: its index hashes dates, and strings hash as strings."""
    import datetime

    from bitfilters_spark.sources.skipping import _in_values

    dest = str(tmp_path / "t")
    rows = [
        (1, "a", 1, datetime.date(2024, 1, 1)),
        (2**31 - 1, "c", None, datetime.date(2024, 1, 2)),
        (None, None, 3, None),
        (3, "b", 4, datetime.date(2024, 1, 3)),
    ]
    spark.createDataFrame(rows, "i int, s string, n long, d date").coalesce(2).write.parquet(dest)
    full = spark.read.parquet(dest)
    exact = [v for v in values if v is not None and -(2**63) <= (v if isinstance(v, int) else 0) < 2**63]

    def rows(df):
        return sorted(map(tuple, df.collect()), key=repr)

    want = rows(full.where(F.col(col).isin(exact)))
    assert want
    for pushdown in (False, True):
        recheck = _in_values(col, full.schema[col].dataType, exact, pushdown)
        assert ("array_contains" in str(recheck)) == (col in "in" and not pushdown)
        assert rows(full.where(recheck)) == want
    if col != "d":
        idx = build_file_index(spark, dest, [col], "bloom", n=100, fpp=0.01)
        assert rows(skipping_read(spark, dest, col, values, index=idx)) == want


def test_recheck_is_pushed_into_files_of_several_row_groups(spark, tmp_path):
    """Where a file to read holds several row groups, the re-check stays a
    pushed ``IN``, so the Parquet reader skips the row groups that hold none
    of the keys; where each holds one, it is the array that compiles once."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    dest = tmp_path / "t"
    dest.mkdir()
    for i in range(2):
        k = list(range(i * 1000, (i + 1) * 1000))
        pq.write_table(pa.table({"k": k, "v": [x * 10 for x in k]}),
                       str(dest / f"part-{i}.parquet"), row_group_size=100)
    idx = build_file_index(spark, str(dest), ["k"], "bloom", n=1000, fpp=0.01)
    got = skipping_read(spark, str(dest), "k", [1234, 10**9], index=idx)
    assert "array_contains" not in plan(got) and " IN (" in plan(got)
    assert [r["v"] for r in got.collect()] == [12340]

    one = _table(spark, str(tmp_path / "one"))
    idx = build_file_index(spark, one, ["k"], "bloom", n=1000, fpp=0.01)
    got = skipping_read(spark, one, "k", [123, 10**9], index=idx)
    assert "array_contains" in plan(got)
    assert [r["v"] for r in got.collect()] == [1230]


def test_read_takes_covered_files_from_the_state_its_pruning_read(
    spark, tmp_path, monkeypatch
):
    """If another thread collects the index again between a lookup's
    pruning and its read, the read still takes the files the index covers
    from the state the pruning read. Taken from the newer state, a file it
    covers but the older pruning never probed was read by neither rule."""
    from bitfilters_spark.sources import skipping

    dest = _table(spark, str(tmp_path / "t"), files=2)
    idx = build_file_index(spark, dest, ["k"], "bloom", n=1000, fpp=0.01)
    skipping_read(spark, dest, "k", [1], index=idx).count()  # caches the 2-file table
    spark.createDataFrame([(5000, 7)], "k long, v long").coalesce(1).write.mode(
        "append"
    ).parquet(dest)
    new_file = (set(spark.read.parquet(dest).inputFiles())
                - {r["file"] for r in idx.collect()}).pop()
    prune = skipping.prune_files

    def racing(index, hashes, filter_col="filter"):
        out = prune(index, hashes, filter_col)
        h = skipping._HANDLES[index]  # a newer collect that covers the new file
        h.state = h.state._replace(covered=h.state.covered | {skipping._key(new_file)})
        return out

    monkeypatch.setattr(skipping, "prune_files", racing)
    assert [r["v"] for r in skipping_read(spark, dest, "k", [5000], index=idx).collect()] == [7]


def test_threads_sharing_an_index_collect_it_once(spark, tmp_path):
    """Lookups from many threads through one index DataFrame collect it
    once, and each returns its exact rows."""
    from concurrent.futures import ThreadPoolExecutor

    dest = _table(spark, str(tmp_path / "t"))
    idx = build_file_index(spark, dest, ["k"], "bloom", n=1000, fpp=0.01)
    skipping_read(spark, dest, "k", [], index=idx)  # the table's schema and files
    collect, calls = idx.collect, []

    def counted():
        calls.append(1)
        return collect()

    idx.collect = counted
    keys = list(range(0, 4000, 250))
    with ThreadPoolExecutor(8) as pool:
        futures = [pool.submit(lambda k=k: skipping_read(
            spark, dest, "k", [k], index=idx).collect()) for k in keys]
        got = [f.result(timeout=300) for f in futures]
    assert [[r["v"] for r in rows] for rows in got] == [[k * 10] for k in keys]
    assert len(calls) == 1


def test_table_cache_keeps_the_most_recent_tables(spark, tmp_path, monkeypatch):
    """The per-path table cache is bounded: past its size, the table read
    longest ago is dropped, and reading a table again makes it the newest."""
    from collections import OrderedDict

    from bitfilters_spark.sources import skipping

    monkeypatch.setattr(skipping, "_TABLES", OrderedDict())
    monkeypatch.setattr(skipping, "_TABLES_MAX", 2)
    paths = [_table(spark, str(tmp_path / f"t{i}"), n=10, files=1) for i in range(4)]
    for p in paths[:3]:
        assert len(skipping._table(spark, p).files) == 1
    assert list(skipping._TABLES) == paths[1:3]
    skipping._table(spark, paths[1])  # a hit: now the newest
    skipping._table(spark, paths[3])
    assert list(skipping._TABLES) == [paths[1], paths[3]]
