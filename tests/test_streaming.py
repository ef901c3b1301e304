"""Streaming dedup exactness (SURVEY §5.6): feed overlapping micro-batches
through a file source into streaming_dedup_exact, assert the memory sink
holds exactly the first-seen set — duplicates dropped both WITHIN a batch
and ACROSS batches (state persists between micro-batches)."""

import os
import time

import pytest
from pyspark.sql import functions as F

from bitfilters_spark.streaming import streaming_dedup_exact, streaming_window_counts


@pytest.fixture(scope="module", autouse=True)
def _few_state_partitions(spark):
    """Streaming micro-batches pay per-partition state-store overhead:
    at the suite's 8 shuffle partitions a 3-row stateful batch runs 8
    state-store tasks (measured 18.2 s for a 3-batch sessionize at 8
    partitions vs 11.0 s at 1). Pin 2 for this module — still exercises
    cross-partition state, and each test's fresh checkpoint dir pins its
    own value, so nothing leaks. Restored after the module."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", old)


def _drop_index_tables(spark, *tables):
    """DROP TABLE alone misses a stale managed-table DIRECTORY left by a
    previous session (catalog empty, location on disk -> creation fails
    with LOCATION_ALREADY_EXISTS). Remove both."""
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(wh, t), ignore_errors=True)


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, "id long, fp string").coalesce(1).write.mode(
        "append"
    ).parquet(path)


def test_streaming_dedup_across_microbatches(spark, tmp_path):
    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    # batch 1: a,b,c with an in-batch duplicate of a
    _write_batch(spark, src, [(1, "a"), (2, "b"), (3, "c"), (4, "a")])

    stream = spark.readStream.schema("id long, fp string").parquet(src)
    dedup = streaming_dedup_exact(stream, "fp", "id", num_shards=4)
    q = (
        dedup.writeStream.format("memory")
        .queryName("dedup_sink")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got1 = {
            r["id"] for r in spark.sql("SELECT id FROM dedup_sink").collect()
        }
        assert got1 == {1, 2, 3}, "in-batch dup must keep min id"

        # batch 2: duplicates of a & c plus fresh d
        _write_batch(spark, src, [(5, "a"), (6, "d"), (7, "c")])
        q.processAllAvailable()
        got2 = {
            r["id"] for r in spark.sql("SELECT id FROM dedup_sink").collect()
        }
        assert got2 == {1, 2, 3, 6}, "cross-batch dups must be dropped via state"

        # batch 3: everything already seen -> nothing new
        _write_batch(spark, src, [(8, "a"), (9, "b"), (10, "d")])
        q.processAllAvailable()
        got3 = {
            r["id"] for r in spark.sql("SELECT id FROM dedup_sink").collect()
        }
        assert got3 == {1, 2, 3, 6}
    finally:
        q.stop()


def test_streaming_dedup_bloom_bounded_state(spark, tmp_path):
    """Bloom-state variant: duplicates are ALWAYS dropped (no false
    negatives in the filter); fresh items pass except at ~fpp. With a
    roomy filter (n >> items) everything behaves exactly."""
    from bitfilters_spark.streaming import streaming_dedup_bloom

    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(spark, src, [(i, f"doc{i}") for i in range(100)])

    stream = spark.readStream.schema("id long, fp string").parquet(src)
    dedup = streaming_dedup_bloom(stream, "fp", "id", num_shards=4, n=100_000, fpp=0.001)
    q = (
        dedup.writeStream.format("memory")
        .queryName("bloom_sink")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got1 = {r["id"] for r in spark.sql("SELECT id FROM bloom_sink").collect()}
        # fp ~0.1% on 100 items: overwhelmingly all pass
        assert len(got1) >= 99

        # batch 2: 50 duplicates (must ALL be dropped) + 50 fresh
        _write_batch(
            spark, src,
            [(200 + i, f"doc{i}") for i in range(50)]
            + [(300 + i, f"new{i}") for i in range(50)],
        )
        q.processAllAvailable()
        got2 = {r["id"] for r in spark.sql("SELECT id FROM bloom_sink").collect()}
        dup_ids = {200 + i for i in range(50)}
        assert not (got2 & dup_ids), "bloom state must drop every true duplicate"
        assert len(got2 - got1) >= 49  # fresh items pass (minus ~fpp)
    finally:
        q.stop()


def test_streaming_window_counts_matches_batch(spark, tmp_path):
    src = str(tmp_path / "ev")
    rows = [
        (1, "2024-01-01 10:05:00", "click"),
        (2, "2024-01-01 10:20:00", "click"),
        (3, "2024-01-01 10:40:00", "view"),
        (4, "2024-01-01 11:10:00", "click"),
    ]
    df = spark.createDataFrame(rows, "event_id long, ts string, event_type string")
    df.withColumn("ts", F.to_timestamp("ts")).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema("event_id long, ts timestamp, event_type string").parquet(src)
    q = (
        streaming_window_counts(stream, "ts", "event_type", "1 hour", "2 hours")
        .writeStream.format("memory")
        .queryName("win_sink")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (str(r["window_start"]), r["event_type"]): r["n"]
            for r in spark.sql("SELECT * FROM win_sink").collect()
        }
        assert got == {
            ("2024-01-01 10:00:00", "click"): 2,
            ("2024-01-01 10:00:00", "view"): 1,
            ("2024-01-01 11:00:00", "click"): 1,
        }
    finally:
        q.stop()


def _check_streaming_filter_join(spark, tmp_path, kind, **kw):
    from bitfilters_spark.streaming import streaming_filter_join

    src = str(tmp_path / "fj_in")
    ckpt = str(tmp_path / "fj_ckpt")
    dim = spark.createDataFrame(
        [(2, "two"), (5, "five"), (7, "seven")], "k long, name string"
    )
    _write_batch(spark, src, [(i, str(i % 10)) for i in range(20)])

    stream = spark.readStream.schema("id long, fp string").parquet(src)
    stream = stream.withColumn("k", F.col("id") % 10)
    joined = streaming_filter_join(stream, dim, "k", kind=kind, **kw)
    q = (
        joined.writeStream.format("memory")
        .queryName("fj_sink")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        _write_batch(spark, src, [(i, str(i % 10)) for i in range(20, 40)])
        q.processAllAvailable()
        got = sorted(
            (r["id"], r["k"], r["name"])
            for r in spark.sql("SELECT id, k, name FROM fj_sink").collect()
        )
    finally:
        q.stop()
    batch = spark.read.schema("id long, fp string").parquet(src).withColumn(
        "k", F.col("id") % 10
    )
    want = sorted(
        (r["id"], r["k"], r["name"]) for r in batch.join(dim, on="k").collect()
    )
    # ids 0..39, k = id % 10 ∈ {2,5,7} → 3 matches per 10 ids = 12 rows
    assert got == want and len(got) == 12


def test_streaming_filter_join_matches_batch_join(spark, tmp_path):
    """Stream-static bloom-prefiltered join: result identical to the plain
    join (no false negatives), across micro-batches."""
    _check_streaming_filter_join(spark, tmp_path, "bloom", n=100, fpp=0.01)


def test_streaming_filter_join_duckdb_bloom_matches_batch_join(spark, tmp_path):
    """Same as above with the duckdb_bloom filter, which probes in the JVM:
    a stream-static LEFT join to the broadcast sectors."""
    _check_streaming_filter_join(spark, tmp_path, "duckdb_bloom", num_sectors=64)


def test_streaming_distinct_counts_exact_under_capacity(spark, tmp_path):
    """Per-window KMV distinct counts across micro-batches: with k above
    the true cardinality the estimates are exact; state stays bounded."""
    import datetime as dt

    from bitfilters_spark.streaming import streaming_distinct_counts

    src = str(tmp_path / "dc_in")
    ckpt = str(tmp_path / "dc_ckpt")

    def rows(batch):
        out = []
        for i in batch:
            # two 1-hour windows; key repeats to create duplicates
            h = 10 + (i % 2)
            out.append((i, str(i % 7), dt.datetime(2024, 1, 1, h, i % 60)))
        return out

    spark.createDataFrame(
        rows(range(30)), "id long, k string, ts timestamp"
    ).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema("id long, k string, ts timestamp").parquet(src)
    counts = streaming_distinct_counts(stream, "k", "ts", "1 hour", k=64)
    q = (
        counts.writeStream.format("memory")
        .queryName("dc_sink")
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(
            rows(range(30, 80)), "id long, k string, ts timestamp"
        ).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        rows_out = spark.sql(
            "SELECT * FROM dc_sink ORDER BY win_start, n_rows"
        ).collect()
    finally:
        q.stop()
    # latest row per window
    latest = {}
    for r in rows_out:
        latest[r["win_start"]] = (r["est_distinct"], r["n_rows"])
    batch = spark.read.parquet(src)
    exact = {
        r["w"]: (r["d"], r["n"])
        for r in batch.groupBy(
            F.window("ts", "1 hour").start.alias("w")
        )
        .agg(
            F.countDistinct("k").alias("d"), F.count(F.lit(1)).alias("n")
        )
        .collect()
    }
    assert latest == exact


def test_streaming_window_counts_drops_late_data(spark, tmp_path):
    """Watermark semantics in APPEND mode: a window is emitted once the
    watermark passes its end, and an event arriving after that is dropped
    rather than mutating the finalized window."""
    import datetime as dt

    src = str(tmp_path / "late_in")
    ckpt = str(tmp_path / "late_ckpt")

    def write(rows):
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, event_type string"
        ).coalesce(1).write.mode("append").parquet(src)

    t = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)
    # batch 1: two events in the 10:00 window, one at 13:30 that advances
    # the watermark (1h) past 10:00-11:00's end
    write([(1, t(10, 5), "click"), (2, t(10, 40), "click"), (3, t(13, 30), "view")])

    stream = spark.readStream.schema(
        "event_id long, ts timestamp, event_type string"
    ).parquet(src)
    counts = streaming_window_counts(stream, "ts", "event_type", "1 hour", "1 hour")
    q = (
        counts.writeStream.format("memory")
        .queryName("late_sink")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: a LATE click at 10:50 — watermark (12:30) is already past
        # the 11:00 window end, so it must be dropped
        write([(4, t(10, 50), "click")])
        q.processAllAvailable()
        # batch 3: advance watermark far enough to close every window
        write([(5, t(20, 0), "view")])
        q.processAllAvailable()
        got = {
            (str(r["window_start"]), r["event_type"]): r["n"]
            for r in spark.sql("SELECT * FROM late_sink").collect()
        }
    finally:
        q.stop()
    assert got[("2024-01-01 10:00:00", "click")] == 2  # late event NOT counted


def test_streaming_dedup_ttl_evicts_and_readmits(spark, tmp_path):
    """Watermark-driven state expiry: a fingerprint's entry is dropped once
    its last sighting falls behind the watermark (= max event time - ttl),
    after which the SAME fingerprint passes again. Duplicates within the
    ttl horizon stay suppressed."""
    import datetime as dt

    src = str(tmp_path / "ttl_in")
    ckpt = str(tmp_path / "ttl_ckpt")

    def write(rows):
        spark.createDataFrame(
            rows, "id long, fp string, ts timestamp"
        ).coalesce(1).write.mode("append").parquet(src)

    t = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)
    write([(1, "a", t(10, 0)), (2, "b", t(10, 10))])

    stream = spark.readStream.schema("id long, fp string, ts timestamp").parquet(src)
    dedup = streaming_dedup_exact(
        stream, "fp", "id", num_shards=4, ts_col="ts", ttl="1 hour"
    )
    q = (
        dedup.writeStream.format("memory")
        .queryName("ttl_sink")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )

    def got():
        return {r["id"] for r in spark.sql("SELECT id FROM ttl_sink").collect()}

    try:
        q.processAllAvailable()
        assert got() == {1, 2}

        # duplicate of "a" 30 min after the first sighting: inside ttl
        write([(3, "a", t(10, 30))])
        q.processAllAvailable()
        assert got() == {1, 2}

        # fresh fp advances the watermark to 12:00 (13:00 - 1h ttl)
        write([(4, "c", t(13, 0))])
        q.processAllAvailable()
        assert got() == {1, 2, 4}

        # "a" last seen 10:30 < watermark 12:00 -> evicted -> re-admitted
        write([(5, "a", t(12, 30))])
        q.processAllAvailable()
        assert got() == {1, 2, 4, 5}

        # and the re-admitted entry suppresses again within its new window
        write([(6, "a", t(12, 45))])
        q.processAllAvailable()
        assert got() == {1, 2, 4, 5}
    finally:
        q.stop()


@pytest.mark.parametrize("kind", ["kmv", "drift", "topk"])
def test_streaming_distinct_counts_watermark_closes_windows(spark, tmp_path, kind):
    """Window state is dropped once the watermark passes window end +
    allowance: the state store's row count (query progress metrics)
    shrinks after the watermark advances — closed windows no longer hold
    state. Run for KMV, for drift (its own state schema, and a NULL
    filter) and for top-k with ``top_k=0`` (every emit empty, yet each
    window still holds and frees state)."""
    import datetime as dt

    from bitfilters_spark.streaming import (
        streaming_distinct_counts,
        streaming_drift,
        streaming_topk,
    )

    src = str(tmp_path / "wmc_in")
    ckpt = str(tmp_path / "wmc_ckpt")
    wm = "30 minutes"
    build, row, want_10, want_15 = {
        "kmv": (
            lambda s: streaming_distinct_counts(
                s, "k", "ts", "1 hour", k=64, watermark=wm
            ),
            lambda r: (r["est_distinct"], r["n_rows"]),
            [(2, 3)],
            [(1, 1), (2, 2)],
        ),
        "drift": (
            lambda s: streaming_drift(
                s, "id", {"min": 0, "max": 8, "counts": [1, 1]}, "ts", "1 hour",
                watermark=wm,
            ),
            lambda r: r["n_rows"],
            [3],
            [1],  # the NULL-valued 15:10 row is filtered out
        ),
        "topk": (
            lambda s: streaming_topk(
                s, "k", "ts", "1 hour", k=64, top_k=0, watermark=wm
            ),
            None,
            [],
            [],
        ),
    }[kind]

    def write(rows):
        spark.createDataFrame(
            rows, "id long, k string, ts timestamp"
        ).coalesce(1).write.mode("append").parquet(src)

    def state_rows(q):
        return q.lastProgress["stateOperators"][0]["numRowsTotal"]

    t = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)
    write([(1, "x", t(10, 0)), (2, "y", t(10, 20)), (3, "x", t(10, 40))])

    stream = spark.readStream.schema("id long, k string, ts timestamp").parquet(src)
    q = (
        build(stream).writeStream.format("memory")
        .queryName("wmc_sink")
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .start()
    )

    def emitted(hour):
        return sorted(
            row(r) for r in spark.sql("SELECT * FROM wmc_sink").collect()
            if r["win_start"].hour == hour
        )

    try:
        q.processAllAvailable()
        assert emitted(10) == want_10
        assert state_rows(q) == 1  # the open 10:00 window

        # advance the watermark (15:00 - 30min = 14:30) far past the 10:00
        # window's end + allowance (11:30): its timeout becomes due
        write([(4, "z", t(15, 0))])
        q.processAllAvailable()

        # the timeout fires in the batch AFTER the watermark advances; any
        # subsequent batch shows the 10:00 state row gone
        write([(None, "w", t(15, 10))])
        q.processAllAvailable()
        assert state_rows(q) == 1, "closed 10:00 window must be evicted"
        assert emitted(15) == want_15
    finally:
        q.stop()


def test_streaming_drift_null_rows_advance_watermark(spark, tmp_path):
    """Rows with a NULL value are not counted by ``streaming_drift`` but
    their event time still advances the watermark: batches of only NULL
    values at a later hour evict the open 10:00 window, and the later
    window, which saw only NULLs, holds no state and emits nothing. A
    NULL-only batch inside the open 10:00 window keeps its eviction
    timeout armed."""
    import datetime as dt

    from bitfilters_spark.streaming import streaming_drift

    src = str(tmp_path / "dn_in")
    t = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)

    def write(rows):
        spark.createDataFrame(rows, "id long, ts timestamp").coalesce(1) \
            .write.mode("append").parquet(src)

    write([(1, t(10, 0)), (2, t(10, 20)), (5, t(10, 40))])
    stream = spark.readStream.schema("id long, ts timestamp").parquet(src)
    q = (
        streaming_drift(
            stream, "id", {"min": 0, "max": 8, "counts": [1, 1]}, "ts",
            "1 hour", watermark="30 minutes",
        )
        .writeStream.format("memory")
        .queryName("drift_null_sink")
        .option("checkpointLocation", str(tmp_path / "dn_ckpt"))
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        # a NULL-only row in the open 10:00 window changes no state
        write([(None, t(10, 40))])
        q.processAllAvailable()
        # NULL-only batches: the first moves the watermark to 14:30, past
        # the 10:00 window's end + allowance; the timeout fires after it
        write([(None, t(15, 0))])
        q.processAllAvailable()
        write([(None, t(15, 10))])
        q.processAllAvailable()
        state_rows = q.lastProgress["stateOperators"][0]["numRowsTotal"]
        assert state_rows == 0, "closed 10:00 window must be evicted"
        rows = spark.sql("SELECT * FROM drift_null_sink").collect()
        assert [(r["win_start"].hour, r["n_rows"]) for r in rows] == [(10, 3)]
    finally:
        q.stop()


def test_streaming_sessionize_matches_batch(spark, tmp_path):
    """Streaming sessionization emits exactly the sessions the batch
    operator computes, closing them via next-event and via watermark
    timeout (entity that stops emitting)."""
    import datetime as dt

    from bitfilters_spark.operators.timeseries import session_stats
    from bitfilters_spark.streaming import streaming_sessionize

    src = str(tmp_path / "sess_in")
    ckpt = str(tmp_path / "sess_ckpt")

    def write(rows):
        spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp"
        ).coalesce(1).write.mode("append").parquet(src)

    t = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)
    # user 1: session A (10:00, 10:10), then gap > 30min, session B (11:00)
    # user 2: one session (10:05)
    write([(1, 1, t(10, 0)), (2, 1, t(10, 10)), (3, 2, t(10, 5))])

    stream = spark.readStream.schema(
        "event_id long, user_id long, ts timestamp"
    ).parquet(src)
    sess = streaming_sessionize(stream, "user_id", "ts", gap="30 minutes")
    q = (
        sess.writeStream.format("memory")
        .queryName("sess_sink")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )

    def got():
        return {
            (r["user_id"], str(r["session_start"]), str(r["session_end"]), r["n_events"])
            for r in spark.sql("SELECT * FROM sess_sink").collect()
        }

    try:
        q.processAllAvailable()
        assert got() == set()  # everything still open

        # 11:00 closes user 1's session A in-stream (gap exceeded)
        write([(4, 1, t(11, 0))])
        q.processAllAvailable()
        assert (1, "2024-01-01 10:00:00", "2024-01-01 10:10:00", 2) in got()

        # advance the watermark far ahead: every open session times out
        write([(5, 3, t(15, 0))])
        q.processAllAvailable()
        write([(6, 3, t(15, 1))])  # one more batch so timeouts fire
        q.processAllAvailable()
        final = got()
        assert (1, "2024-01-01 11:00:00", "2024-01-01 11:00:00", 1) in final
        assert (2, "2024-01-01 10:05:00", "2024-01-01 10:05:00", 1) in final
    finally:
        q.stop()

    # batch parity on the fully-closed prefix (users 1 and 2)
    batch = spark.read.parquet(src).where(F.col("user_id").isin(1, 2))
    want = {
        (r["user_id"], str(r["start_ts"]), str(r["end_ts"]), r["n_events"])
        for r in session_stats(batch, "user_id", "ts", "event_id", 30.0).collect()
    }
    stream_sessions = {x for x in got() if x[0] in (1, 2)}
    assert stream_sessions == want


def test_streaming_dedup_bloom_generational_ttl(spark, tmp_path):
    """Rotating-bloom expiry: a duplicate within ttl is dropped; once the
    watermark crosses two generation boundaries the fingerprint's bits are
    gone and it is re-admitted — with state still two fixed bitmaps."""
    import datetime as dt

    from bitfilters_spark.streaming import streaming_dedup_bloom

    src = str(tmp_path / "gb_in")
    ckpt = str(tmp_path / "gb_ckpt")

    def write(rows):
        spark.createDataFrame(
            rows, "id long, fp string, ts timestamp"
        ).coalesce(1).write.mode("append").parquet(src)

    t = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)
    write([(1, "a", t(10, 0)), (2, "b", t(10, 10))])

    stream = spark.readStream.schema("id long, fp string, ts timestamp").parquet(src)
    dedup = streaming_dedup_bloom(
        stream, "fp", "id", num_shards=4, n=10_000, fpp=0.001,
        ts_col="ts", ttl="1 hour",
    )
    q = (
        dedup.writeStream.format("memory")
        .queryName("gb_sink")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )

    def got():
        return {r["id"] for r in spark.sql("SELECT id FROM gb_sink").collect()}

    try:
        q.processAllAvailable()
        assert got() == {1, 2}

        # duplicate inside ttl: suppressed
        write([(3, "a", t(10, 30))])
        q.processAllAvailable()
        assert got() == {1, 2}

        # advance the watermark two generations past 10:00
        write([(4, "c", t(14, 0))])
        q.processAllAvailable()
        assert got() == {1, 2, 4}

        # both generations rotated away -> "a" re-admitted
        write([(5, "a", t(13, 30))])
        q.processAllAvailable()
        assert got() == {1, 2, 4, 5}
    finally:
        q.stop()


def test_streaming_asof_enrich_matches_batch(spark, tmp_path):
    """Map-side broadcast as-of enrichment must agree row-for-row with the
    batch asof_join on the same data, across micro-batches."""
    import datetime as dt

    from bitfilters_spark.operators.timeseries import asof_join
    from bitfilters_spark.streaming import streaming_asof_enrich

    src = str(tmp_path / "ae_in")
    ckpt = str(tmp_path / "ae_ckpt")
    t = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)
    rates = spark.createDataFrame(
        [(1, t(9), 1.0), (1, t(11), 2.0), (2, t(10), 5.0)],
        "user_id long, ts timestamp, rate double",
    )

    def write(rows):
        spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp"
        ).coalesce(1).write.mode("append").parquet(src)

    write([(1, 1, t(8)), (2, 1, t(10)), (3, 2, t(10))])

    stream = spark.readStream.schema(
        "event_id long, user_id long, ts timestamp"
    ).parquet(src)
    enriched = streaming_asof_enrich(
        stream, rates, "user_id", "rate", left_ts="ts", right_ts="ts"
    )
    q = (
        enriched.writeStream.format("memory")
        .queryName("ae_sink")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        write([(4, 1, t(11)), (5, 1, t(12)), (6, 3, t(12))])
        q.processAllAvailable()
        got = {
            r["event_id"]: r["rate"]
            for r in spark.sql("SELECT event_id, rate FROM ae_sink").collect()
        }
    finally:
        q.stop()
    assert got == {1: None, 2: 1.0, 3: 5.0, 4: 2.0, 5: 2.0, 6: None}

    batch = spark.read.parquet(src)
    want = {
        r["event_id"]: r["rate"]
        for r in asof_join(batch, rates, ["user_id"], ["rate"]).collect()
    }
    assert got == want


def test_streaming_asof_enrich_rejects_large_right(spark):
    """The static-right contract collects + broadcasts the right table;
    a right side above max_right_rows must fail fast at construction,
    pointing at the keyed-state stream-right path."""
    import datetime as dt

    import pytest

    from bitfilters_spark.streaming import streaming_asof_enrich

    rates = spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 1, 9), float(i)) for i in range(20)],
        "user_id long, ts timestamp, rate double",
    )
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr("value AS user_id", "timestamp AS ts")
    )
    with pytest.raises(ValueError, match="streaming_asof_join"):
        streaming_asof_enrich(
            stream, rates, "user_id", "rate", max_right_rows=10
        )


def test_streaming_asof_join_matches_batch(spark, tmp_path):
    """Stream-right as-of (keyed last-known-values state) must agree
    row-for-row with the batch asof_join once both sides are fully fed,
    including the <= tie (a right row at the same ts wins) and the
    cross-batch carry (a right row from an earlier micro-batch resolves
    later left rows)."""
    import datetime as dt

    from bitfilters_spark.operators.timeseries import asof_join
    from bitfilters_spark.streaming import streaming_asof_join

    lsrc = str(tmp_path / "aj_left")
    rsrc = str(tmp_path / "aj_right")
    ckpt = str(tmp_path / "aj_ckpt")
    t = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)

    def write(path, schema, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(path)

    lschema = "event_id long, user_id long, ts timestamp"
    rschema = "user_id long, ts timestamp, rate double"
    # batch 1: rates for users 1,2; left rows before/at/after them
    write(rsrc, rschema, [(1, t(9), 1.0), (2, t(10), 5.0)])
    write(lsrc, lschema, [(1, 1, t(8)), (2, 1, t(9)), (3, 2, t(10, 30))])

    left = spark.readStream.schema(lschema).parquet(lsrc)
    right = spark.readStream.schema(rschema).parquet(rsrc)
    enriched = streaming_asof_join(
        left, right, "user_id", "rate", left_ts="ts", right_ts="ts"
    )
    q = (
        enriched.writeStream.format("memory")
        .queryName("aj_sink")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: a newer rate for user 1 + left rows exercising the
        # carry (event 4 uses batch-1 state; event 5 the batch-2 rate;
        # event 6 has no rate history at all)
        write(rsrc, rschema, [(1, t(11), 2.0)])
        write(lsrc, lschema, [(4, 1, t(10)), (5, 1, t(11)), (6, 3, t(12))])
        q.processAllAvailable()
        got = {
            r["event_id"]: r["rate"]
            for r in spark.sql("SELECT event_id, rate FROM aj_sink").collect()
        }
    finally:
        q.stop()
    # tie at t(9) for event 2: right row wins (<= semantics); event 5 ties
    # with the t(11) rate arriving in the SAME batch
    assert got == {1: None, 2: 1.0, 3: 5.0, 4: 1.0, 5: 2.0, 6: None}

    rates = spark.read.parquet(rsrc)
    want = {
        r["event_id"]: r["rate"]
        for r in asof_join(
            spark.read.parquet(lsrc), rates, ["user_id"], ["rate"]
        ).collect()
    }
    assert got == want


def test_streaming_cms_counts_match_batch_exact(spark, tmp_path):
    """Per-window CMS frequency estimates for tracked keys across
    micro-batches: with w far above the distinct-key count there are no
    collisions, so the latest estimate per (window, key) equals the exact
    batch count; state is one fixed d x w matrix per window."""
    import datetime as dt

    from bitfilters_spark.streaming.sketches import streaming_cms_counts

    src = str(tmp_path / "cms_in")
    ckpt = str(tmp_path / "cms_ckpt")

    def rows(batch):
        out = []
        for i in batch:
            h = 10 + (i % 2)  # two 1-hour windows
            out.append((i, f"k{i % 5}", dt.datetime(2024, 1, 1, h, i % 60)))
        return out

    spark.createDataFrame(
        rows(range(40)), "id long, k string, ts timestamp"
    ).coalesce(1).write.mode("append").parquet(src)

    tracked = ["k0", "k3", "k_absent"]
    stream = spark.readStream.schema("id long, k string, ts timestamp").parquet(src)
    counts = streaming_cms_counts(
        stream, "k", tracked, "ts", "1 hour", d=4, w=4096
    )
    q = (
        counts.writeStream.format("memory")
        .queryName("cms_sink")
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(
            rows(range(40, 90)), "id long, k string, ts timestamp"
        ).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        rows_out = spark.sql(
            "SELECT * FROM cms_sink ORDER BY win_start, n_rows"
        ).collect()
    finally:
        q.stop()
    latest = {}
    for r in rows_out:  # ordered by n_rows: last write wins per window/key
        latest[(r["win_start"], r["key"])] = r["est_count"]
    batch = spark.read.parquet(src)
    exact = {
        (r["w"], r["k"]): r["n"]
        for r in batch.groupBy(
            F.window("ts", "1 hour").start.alias("w"), "k"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    wins = {w for (w, _) in latest}
    assert len(wins) == 2
    for w in wins:
        for k in tracked:
            assert latest[(w, k)] == exact.get((w, k), 0), (w, k)


def test_stateless_text_ops_run_unchanged_on_streams(spark, tmp_path):
    """The whole stateless text family (quality metrics, Gopher gate,
    chunking, token counts) is streaming-ready with ZERO code changes —
    they are pure row-local expressions, so the same function applies to
    a readStream DataFrame and produces batch-identical rows."""
    from bitfilters_spark.operators.text import chunk_documents, gopher_rules

    src = str(tmp_path / "txt_in")
    ckpt1 = str(tmp_path / "txt_ckpt1")
    ckpt2 = str(tmp_path / "txt_ckpt2")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.limit(100).coalesce(1).write.mode("append").parquet(src)

    schema = docs.schema
    stream = spark.readStream.schema(schema).parquet(src)

    q1 = (
        gopher_rules(stream)
        .select("doc_id", "n_words", "gopher_pass")
        .writeStream.format("memory")
        .queryName("txt_gopher")
        .option("checkpointLocation", ckpt1)
        .outputMode("append")
        .start()
    )
    q2 = (
        chunk_documents(stream, "doc_id", "text", chunk_tokens=64)
        .writeStream.format("memory")
        .queryName("txt_chunks")
        .option("checkpointLocation", ckpt2)
        .outputMode("append")
        .start()
    )
    try:
        q1.processAllAvailable()
        q2.processAllAvailable()
        got_g = {
            (r["doc_id"], r["n_words"], r["gopher_pass"])
            for r in spark.sql("SELECT * FROM txt_gopher").collect()
        }
        got_c = {
            (r["doc_id"], r["chunk_id"], r["chunk_text"])
            for r in spark.sql(
                "SELECT doc_id, chunk_id, chunk_text FROM txt_chunks"
            ).collect()
        }
    finally:
        q1.stop()
        q2.stop()
    batch = spark.read.parquet(src)
    want_g = {
        (r["doc_id"], r["n_words"], r["gopher_pass"])
        for r in gopher_rules(batch)
        .select("doc_id", "n_words", "gopher_pass")
        .collect()
    }
    want_c = {
        (r["doc_id"], r["chunk_id"], r["chunk_text"])
        for r in chunk_documents(batch, "doc_id", "text", chunk_tokens=64).collect()
    }
    assert got_g == want_g
    assert got_c == want_c


def test_streaming_filter_build_accumulates_across_batches(spark, tmp_path):
    """The persisted blob is a valid filter over every key ever streamed
    (no false negatives mid-stream), usable by the batch probe path."""
    import numpy as np

    from bitfilters_spark.functions.filters import _probe_blob
    from bitfilters_spark.streaming.filter_build import (
        load_filter_blob,
        streaming_filter_build,
    )

    src = str(tmp_path / "fb_in")
    ckpt = str(tmp_path / "fb_ckpt")
    store = str(tmp_path / "store" / "corpus.bloom")

    def write(ids):
        spark.createDataFrame([(i,) for i in ids], "k long").select(
            "k", F.xxhash64("k").alias("h")
        ).coalesce(1).write.mode("append").parquet(src)

    write(range(100))
    stream = spark.readStream.schema("k long, h long").parquet(src)
    q = (
        streaming_filter_build(stream, "h", store, "bloom", n=10_000, fpp=0.01)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        blob1 = load_filter_blob(store)
        write(range(100, 250))
        q.processAllAvailable()
        blob2 = load_filter_blob(store)
    finally:
        q.stop()
    assert blob1 is not None and blob2 is not None
    # every streamed key probes TRUE on the final blob (batch probe path)
    hs = (
        spark.read.parquet(src)
        .select("h")
        .toPandas()["h"]
        .to_numpy(np.int64)
        .view(np.uint64)
    )
    assert _probe_blob(blob2, hs).all()
    # the mid-stream snapshot already covered everything streamed so far
    h1 = (
        spark.createDataFrame([(i,) for i in range(100)], "k long")
        .select(F.xxhash64("k").alias("h"))
        .toPandas()["h"]
        .to_numpy(np.int64)
        .view(np.uint64)
    )
    assert _probe_blob(blob1, h1).all()
    assert len(blob1) == len(blob2)  # bloom state is fixed-size forever


def test_streaming_quantiles_exact_under_capacity(spark, tmp_path):
    """Per-window BKS quantiles across micro-batches: with k above the
    window's row count the nearest-rank estimates equal exact batch
    quantiles; state is one bounded sketch per window."""
    import datetime as dt
    import math

    from bitfilters_spark.streaming.sketches import streaming_quantiles

    src = str(tmp_path / "q_in")
    ckpt = str(tmp_path / "q_ckpt")

    def rows(batch):
        out = []
        for i in batch:
            h = 10 + (i % 2)
            out.append((i, (i * 131) % 997, dt.datetime(2024, 1, 1, h, i % 60)))
        return out

    spark.createDataFrame(
        rows(range(50)), "id long, val long, ts timestamp"
    ).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("id long, val long, ts timestamp").parquet(src)
    out = streaming_quantiles(stream, "id", "val", "ts", "1 hour", k=256)
    q = (
        out.writeStream.format("memory")
        .queryName("q_sink")
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(
            rows(range(50, 120)), "id long, val long, ts timestamp"
        ).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        rows_out = spark.sql("SELECT * FROM q_sink ORDER BY n_rows").collect()
    finally:
        q.stop()
    latest = {r["win_start"]: (r["n_rows"], r["p50"], r["p90"]) for r in rows_out}
    batch = spark.read.parquet(src).toPandas()
    batch["w"] = batch["ts"].dt.floor("h")
    assert len(latest) == 2
    for w, grp in batch.groupby("w"):
        vs = sorted(grp["val"])
        m = len(vs)
        want_p50 = vs[max(1, math.ceil(0.5 * m)) - 1]
        want_p90 = vs[max(1, math.ceil(0.9 * m)) - 1]
        got = latest[w.to_pydatetime()]
        assert got == (m, want_p50, want_p90), w


def test_streaming_topk_exact_under_capacity(spark, tmp_path):
    """Per-window MG heavy hitters across micro-batches: with k above the
    window's distinct-key count the latest emitted counts are EXACT batch
    counts, and the hot key ranks first; state is one bounded summary per
    window."""
    import datetime as dt

    from pyspark.sql import functions as F

    from bitfilters_spark.streaming.sketches import streaming_topk

    src = str(tmp_path / "tk_in")
    ckpt = str(tmp_path / "tk_ckpt")

    def rows(batch):
        out = []
        for i in batch:
            h = 10 + (i % 2)
            key = 777 if i % 3 == 0 else (i % 20)  # 777 is hot in both windows
            out.append((key, dt.datetime(2024, 1, 1, h, i % 60)))
        return out

    spark.createDataFrame(rows(range(60)), "key long, ts timestamp").coalesce(
        1
    ).write.mode("append").parquet(src)
    stream = spark.readStream.schema("key long, ts timestamp").parquet(src)
    out = streaming_topk(stream, "key", "ts", "1 hour", k=64, top_k=5)
    q = (
        out.writeStream.format("memory")
        .queryName("tk_sink")
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(
            rows(range(60, 140)), "key long, ts timestamp"
        ).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        rows_out = spark.sql("SELECT * FROM tk_sink").collect()
    finally:
        q.stop()
    # latest update per window = the rows with the max n_rows for that window
    latest: dict = {}
    for r in rows_out:
        cur = latest.setdefault(r["win_start"], [])
        cur.append(r)
    batch = spark.read.parquet(src)
    hot_hash = spark.range(1).select(
        F.xxhash64(F.lit(777).cast("long")).alias("h")
    ).collect()[0]["h"]
    assert len(latest) == 2
    for w, rs in latest.items():
        n_max = max(r["n_rows"] for r in rs)
        final = [r for r in rs if r["n_rows"] == n_max]
        assert len(final) == 5
        # hot key ranks first with its exact in-window count
        assert final[0]["key_hash"] == hot_hash
        win = batch.where(
            (F.date_trunc("hour", "ts") == w) & (F.col("key") == 777)
        ).count()
        assert final[0]["est_count"] == win
        # under capacity (20 distinct < k=64): every emitted count is exact
        exact = {
            r["h"]: r["c"]
            for r in batch.where(F.date_trunc("hour", "ts") == w)
            .groupBy(F.xxhash64(F.col("key")).alias("h"))
            .agg(F.count("*").alias("c"))
            .collect()
        }
        for r in final:
            assert exact[r["key_hash"]] == r["est_count"]


def test_streaming_neardup_dedup_across_batches(spark, tmp_path):
    """Near-dup dedup with the persisted LSH index as state: in-batch
    pairs keep the min id, later batches drop docs near-duplicating any
    earlier SURVIVOR, novel docs pass, and survivors land in the output
    dataset exactly once."""
    from bitfilters_spark.streaming.neardup import streaming_neardup_dedup

    base_a = "the cat sat on the mat and watched the birds outside all day long"
    base_e = "completely different words describing spark engines and parquet files"
    src = str(tmp_path / "nd_in")
    ckpt = str(tmp_path / "nd_ckpt")
    idx = str(tmp_path / "nd_idx")
    outp = str(tmp_path / "nd_out")
    _drop_index_tables(spark, "ndix_bands", "ndix_shingles")

    batch1 = [
        (1, base_a),
        (2, base_a + " with a tiny suffix"),  # near-dup of 1 -> dropped
        (3, "unrelated third document full of its own distinct vocabulary"),
    ]
    batch2 = [
        (10, base_a + " again with another suffix"),  # ~ survivor 1 -> dropped
        (11, base_e),
        (12, base_e + " trailing bit"),  # in-batch near-dup of 11 -> dropped
    ]
    spark.createDataFrame(batch1, "doc_id long, text string").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = (
        streaming_neardup_dedup(
            stream, "doc_id", "text", "ndix", idx, outp
        )
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(
            batch2, "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.read.parquet(outp).collect()
    assert sorted(r["doc_id"] for r in out) == [1, 3, 11]
    # survivors are in the index: a fresh probe matches them
    from bitfilters_spark.operators.neardup_index import probe_lsh_index

    probe = spark.createDataFrame([(99, base_e)], "doc_id long, text string")
    hits = probe_lsh_index(spark, probe, "doc_id", "text", "ndix").collect()
    assert {r["ref_id"] for r in hits} == {11}


def test_streaming_indexed_sink_keeps_index_current(spark, tmp_path):
    """Each micro-batch lands in the output dataset AND the file-skipping
    index: mid-stream the index covers every committed file (kept blobs
    byte-identical — only new files scan), and a skipping read over it
    equals an exact filter."""
    from bitfilters_spark.sources.skipping import load_index, skipping_read
    from bitfilters_spark.streaming.filter_build import streaming_indexed_sink

    src = str(tmp_path / "ix_in")
    ckpt = str(tmp_path / "ix_ckpt")
    outp = str(tmp_path / "ix_out")
    idxp = str(tmp_path / "ix_idx")

    spark.createDataFrame(
        [(i, i % 50) for i in range(400)], "id long, key long"
    ).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("id long, key long").parquet(src)
    q = (
        streaming_indexed_sink(stream, outp, idxp, ["key"], n=10_000, fpp=0.01)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        idx1 = {
            r["file"]: bytes(r["filter"])
            for r in load_index(spark, idxp).collect()
        }
        assert set(idx1) == set(spark.read.parquet(outp).inputFiles())
        spark.createDataFrame(
            [(i, i % 50) for i in range(400, 900)], "id long, key long"
        ).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    idx2 = load_index(spark, idxp)
    rows2 = {r["file"]: bytes(r["filter"]) for r in idx2.collect()}
    assert set(rows2) == set(spark.read.parquet(outp).inputFiles())
    # batch-1 files kept their blobs byte-identical (immutable => no rescan)
    for f, blob in idx1.items():
        assert rows2[f] == blob
    # a skipping read sees exactly the matching rows
    got = skipping_read(spark, outp, "key", [7], index=idx2).collect()
    want = spark.read.parquet(outp).where(F.col("key") == 7).collect()
    assert sorted(r["id"] for r in got) == sorted(r["id"] for r in want)


def test_streaming_drift_matches_batch_psi(spark, tmp_path):
    """Per-window streaming PSI against a frozen baseline must equal the
    batch drift_report on the same data: an in-distribution window scores
    ~0, a shifted window crosses the major-drift line, and micro-batch
    partials add without changing the result."""
    import datetime as dt

    from bitfilters_spark.operators.text import drift_report
    from bitfilters_spark.streaming.sketches import streaming_drift

    src = str(tmp_path / "dr_in")
    ckpt = str(tmp_path / "dr_ckpt")

    # baseline histogram: uniform over [0, 100), 20 buckets
    base_rows = [(float(i % 100),) for i in range(2000)]
    baseline = {
        "min": 0.0,
        "max": 100.0,
        "counts": [100] * 20,  # exactly uniform
    }

    def rows(batch, shift):
        out = []
        for i in batch:
            h = 10 if shift == 0 else 11
            out.append((float(i % 100 + shift), dt.datetime(2024, 1, 1, h, i % 60)))
        return out

    # window h=10 in-distribution, window h=11 shifted by +80
    spark.createDataFrame(
        rows(range(500), 0) + rows(range(500), 80), "v double, ts timestamp"
    ).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("v double, ts timestamp").parquet(src)
    q = (
        streaming_drift(stream, "v", baseline, "ts", "1 hour")
        .writeStream.format("memory")
        .queryName("dr_sink")
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(
            rows(range(500, 1000), 0) + rows(range(500, 1000), 80),
            "v double, ts timestamp",
        ).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        out = spark.sql("SELECT * FROM dr_sink").collect()
    finally:
        q.stop()
    latest = {}
    for r in out:
        cur = latest.get(r["win_start"])
        if cur is None or r["n_rows"] > cur["n_rows"]:
            latest[r["win_start"]] = r
    assert len(latest) == 2
    by_hour = {w.hour: r for w, r in latest.items()}
    assert by_hour[10]["n_rows"] == by_hour[11]["n_rows"] == 1000
    assert by_hour[10]["psi"] < 0.05
    assert by_hour[11]["psi"] > 0.25
    # equality with the batch operator over the same windows
    a = spark.createDataFrame(base_rows, "v double")  # reference snapshot
    stream_df = spark.read.parquet(src)
    for h, want_shift in ((10, 0), (11, 80)):
        win = stream_df.where(F.hour("ts") == h).select("v")
        batch_psi = drift_report(a, win, ["v"])["v"]["psi"]
        assert abs(by_hour[h]["psi"] - batch_psi) < 1e-6, (h, batch_psi)


def test_neardup_fold_crash_replay_is_idempotent(spark, tmp_path):
    """Simulate the worst crash window: a batch completes output write
    AND index append but dies before the commit marker. The replayed
    batch must leave the output dataset byte-identical (batch-keyed
    overwrite) and must not let already-indexed survivors knock
    themselves out (self-match exclusion)."""
    import os

    from bitfilters_spark.streaming.neardup import make_neardup_fold

    idx = str(tmp_path / "cr_idx")
    outp = str(tmp_path / "cr_out")
    _drop_index_tables(spark, "crix_bands", "crix_shingles")
    fold = make_neardup_fold("doc_id", "text", "crix", idx, outp)

    base = "the cat sat on the mat and watched the birds outside all day long"
    b0 = spark.createDataFrame(
        [(1, base), (2, base + " with a tiny suffix"), (3, "totally unrelated words about spark parquet shuffles")],
        "doc_id long, text string",
    )
    fold(b0, 0)
    first = sorted(r["doc_id"] for r in spark.read.parquet(outp).collect())
    assert first == [1, 3]
    # crash before commit: marker lost, batch 0 re-delivered and re-run
    os.remove(os.path.join(idx, "_last_batch"))
    fold(b0, 0)
    replay = sorted(r["doc_id"] for r in spark.read.parquet(outp).collect())
    assert replay == first  # no duplicates, no self-knockout
    # index still answers probes correctly despite duplicate band rows
    from bitfilters_spark.operators.neardup_index import probe_lsh_index

    probe = spark.createDataFrame([(99, base + " again")], "doc_id long, text string")
    hits = probe_lsh_index(spark, probe, "doc_id", "text", "crix").collect()
    assert {r["ref_id"] for r in hits} == {1}
    # and a subsequent batch still dedups against batch 0's survivors
    b1 = spark.createDataFrame(
        [(10, base + " another suffix"), (11, "fresh vocabulary nothing shared here at all today")],
        "doc_id long, text string",
    )
    fold(b1, 1)
    final = sorted(r["doc_id"] for r in spark.read.parquet(outp).collect())
    assert final == [1, 3, 11]


def test_neardup_fold_star_pattern_keeps_cluster_minimum(spark, tmp_path):
    """In-batch policy IS the batch dedup_near: for a star (a~c, b~c,
    a!~b) connected components keep only min(a,b,c) — a pairwise
    drop-the-greater policy would wrongly keep both a and b."""
    from bitfilters_spark.operators.dedup import minhash_lsh_pairs
    from bitfilters_spark.streaming.neardup import make_neardup_fold

    idx = str(tmp_path / "st_idx")
    outp = str(tmp_path / "st_out")
    _drop_index_tables(spark, "stix_bands", "stix_shingles")

    words = [f"w{i:02d}" for i in range(40)]
    c_text = " ".join(words)           # the hub
    a_text = " ".join(words[:22])      # first half -> sim to c, not to b
    b_text = " ".join(words[18:])      # second half
    rows = [(1, a_text), (2, b_text), (3, c_text)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # bands=32 (r=2): candidate recall at j~0.5 is ~1-(1-0.25)^32 > 0.9999
    pairs = minhash_lsh_pairs(df, "doc_id", "text", 64, 32, 3, 0.45)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(1, 3), (2, 3)}, got  # a star, not a triangle
    fold = make_neardup_fold(
        "doc_id", "text", "stix", idx, outp, k=64, bands=32, threshold=0.45
    )
    fold(df, 0)
    kept = sorted(r["doc_id"] for r in spark.read.parquet(outp).collect())
    assert kept == [1]  # CC keeps the min of {1,2,3}; pairwise would keep [1, 2]


def test_lsh_index_geometry_is_persisted_and_validated(spark, tmp_path):
    """Probe/append with a geometry different from the build must raise,
    not silently return near-zero candidates; the stored geometry is
    readable so callers can just use it."""
    import pytest as _pytest

    from bitfilters_spark.operators.neardup_index import (
        append_to_lsh_index,
        build_lsh_index,
        lsh_index_geometry,
        probe_lsh_index,
    )

    _drop_index_tables(spark, "gmix_bands", "gmix_shingles")
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    build_lsh_index(df, "doc_id", "text", "gmix", k=64, bands=16, shingle_n=3)
    assert lsh_index_geometry(spark, "gmix") == {
        "k": 64, "bands": 16, "shingle_n": 3, "num_buckets": 32,
    }
    with _pytest.raises(ValueError, match="bands=16, called with bands=8"):
        probe_lsh_index(spark, df, "doc_id", "text", "gmix", k=64, bands=8)
    with _pytest.raises(ValueError, match="shingle_n"):
        append_to_lsh_index(df, "doc_id", "text", "gmix", shingle_n=5)
    # matching geometry still probes fine (self-match present by design)
    hits = probe_lsh_index(spark, df, "doc_id", "text", "gmix").collect()
    assert {(r["new_id"], r["ref_id"]) for r in hits} == {(1, 1)}


def test_streaming_pipeline_composition_matches_batch(spark, tmp_path):
    """Streaming analog of q_pipeline_e2e: chain streaming_dedup_exact
    INTO streaming_indexed_sink (dedup -> parquet sink + live skipping
    index) over 3 micro-batches, then verify the composed result equals
    the batch composition (union -> min-id-per-fingerprint dedup) AND
    the sink's index answers a skipping read identically to an exact
    filter over the sunk data."""
    from bitfilters_spark.sources.skipping import load_index, skipping_read
    from bitfilters_spark.streaming.filter_build import streaming_indexed_sink

    src = str(tmp_path / "cp_in")
    ckpt = str(tmp_path / "cp_ckpt")
    outp = str(tmp_path / "cp_out")
    idxp = str(tmp_path / "cp_idx")

    # duplicates are crafted so first-arrival == min id: batch parity holds
    batches = [
        [(1, "a"), (2, "b"), (3, "c"), (4, "a")],
        [(5, "a"), (6, "d"), (7, "c"), (8, "e")],
        [(9, "b"), (10, "f"), (11, "e")],
    ]
    _write_batch(spark, src, batches[0])
    stream = spark.readStream.schema("id long, fp string").parquet(src)
    deduped = streaming_dedup_exact(stream, "fp", "id", num_shards=4)
    q = (
        streaming_indexed_sink(deduped, outp, idxp, ["fp_hash"], n=10_000, fpp=0.01)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        for b in batches[1:]:
            _write_batch(spark, src, b)
            q.processAllAvailable()
    finally:
        q.stop()

    # 1. composed output == batch composition (union -> exact dedup)
    allrows = spark.createDataFrame(
        [r for b in batches for r in b], "id long, fp string"
    )
    want = {
        (r["id"], r["fp_hash"])
        for r in allrows.select("id", F.xxhash64("fp").alias("fp_hash"))
        .groupBy("fp_hash")
        .agg(F.min("id").alias("id"))
        .collect()
    }
    got = {
        (r["id"], r["fp_hash"]) for r in spark.read.parquet(outp).collect()
    }
    assert got == want
    # 2. the index covers every committed file, and a skipping read over
    # it equals the exact filter on the sunk dataset
    # (zero-row part files — shards that emitted nothing in a batch —
    # have no rows to index, so compare against the non-empty files)
    idx = load_index(spark, idxp)
    nonempty = {
        r["f"]
        for r in spark.read.parquet(outp)
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    }
    assert {r["file"] for r in idx.collect()} == nonempty
    probe_hash = allrows.select(F.xxhash64(F.lit("d")).alias("h")).collect()[0]["h"]
    got_skip = skipping_read(spark, outp, "fp_hash", [probe_hash], index=idx).collect()
    want_skip = spark.read.parquet(outp).where(F.col("fp_hash") == probe_hash).collect()
    assert sorted(r["id"] for r in got_skip) == sorted(r["id"] for r in want_skip) == [6]


def test_streaming_r7_gate_composition_matches_batch(spark, tmp_path):
    """r7 streaming composition: per micro-batch, repair mojibake ->
    score with a PERSISTED classifier (load once, reuse every batch) ->
    gate -> count BPE tokens with a PERSISTED tokenizer -> append to
    parquet. Three micro-batches must equal the identical batch
    composition over the union (all stages stateless per-row, so
    streaming ≡ batch exactly)."""
    from bitfilters_spark.operators.bpe import (
        bpe_token_counts, load_bpe, save_bpe, train_bpe,
    )
    from bitfilters_spark.operators.classifier import (
        classifier_score, load_classifier, save_classifier,
        train_text_classifier,
    )
    from bitfilters_spark.operators.web import fix_mojibake

    good = ["solid careful analysis results", "replicated held out data",
            "theorem proof assumptions hold", "variance reported seeds"]
    junk = ["click free casino bonus now", "buy cheap pills winner now"]
    train = spark.createDataFrame(
        [(i, t, 1) for i, t in enumerate(good)]
        + [(10 + i, t, 0) for i, t in enumerate(junk)],
        "doc_id long, text string, label int",
    )
    clf = train_text_classifier(train, "doc_id", "text", "label",
                                n_buckets=1 << 10, iters=30, lr=6.0)
    save_classifier(spark, clf, str(tmp_path / "clf"))
    bpe = train_bpe(train, "text", num_merges=40, min_pair_count=1)
    save_bpe(spark, bpe, str(tmp_path / "bpe"))

    src, ckpt, outp = (str(tmp_path / p) for p in ("in", "ck", "out"))
    batches = [
        [(100, good[0]), (101, junk[0])],
        [(102, good[1] + " extra"), (103, junk[1])],
        [(104, good[2]), (105, good[3])],
    ]

    clf_loaded = load_classifier(spark, str(tmp_path / "clf"))
    bpe_loaded = load_bpe(spark, str(tmp_path / "bpe"))

    def gate(batch_df):
        fixed = batch_df.select(
            F.col("id").alias("doc_id"), fix_mojibake("fp").alias("text")
        )
        scored = classifier_score(fixed, "doc_id", "text", clf_loaded)
        kept = fixed.join(
            scored.where(F.col("score") >= 0.5).select("doc_id"), "doc_id"
        )
        return kept.join(
            bpe_token_counts(kept, "doc_id", "text", bpe_loaded), "doc_id"
        )

    def sink(batch_df, batch_id):
        gate(batch_df).write.mode("append").parquet(outp)

    _write_batch(spark, src, batches[0])
    stream = spark.readStream.schema("id long, fp string").parquet(src)
    q = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", ckpt
    ).start()
    try:
        q.processAllAvailable()
        for b in batches[1:]:
            _write_batch(spark, src, b)
            q.processAllAvailable()
    finally:
        q.stop()

    allrows = spark.createDataFrame(
        [r for b in batches for r in b], "id long, fp string"
    )
    want = sorted(map(tuple, gate(allrows).collect()))
    got = sorted(map(tuple, spark.read.parquet(outp).collect()))
    assert got == want
    # the gate actually dropped the junk rows
    kept_ids = {t[0] for t in got}
    assert kept_ids == {100, 102, 104, 105}


def test_streaming_pca_moments_match_batch(spark, tmp_path):
    """Streaming moment folds over 3 micro-batches == batch moments over
    the union; the mid-stream PCA == the batch fit; replaying a batch
    (crash redelivery) changes nothing."""
    import numpy as np
    from bitfilters_spark.operators.similarity import (
        embedding_moments, fit_pca,
    )
    from bitfilters_spark.streaming.pca import (
        fold_moments_batch, load_moments, streaming_embedding_moments,
        streaming_pca,
    )

    rng = np.random.RandomState(5)
    X = rng.randn(90, 6) @ np.diag([4, 2, 1, 0.5, 0.2, 0.1])
    rows = [(i, X[i].tolist()) for i in range(90)]

    src = str(tmp_path / "pca_in")
    ckpt = str(tmp_path / "pca_ck")
    state = str(tmp_path / "pca_state")
    for chunk in (rows[:30], rows[30:60]):
        spark.createDataFrame(chunk, "vec_id long, embedding array<double>") \
            .coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(
        "vec_id long, embedding array<double>"
    ).parquet(src)
    q = streaming_embedding_moments(stream, "embedding", state).option(
        "checkpointLocation", ckpt
    ).start()
    try:
        q.processAllAvailable()
        spark.createDataFrame(rows[60:], "vec_id long, embedding array<double>") \
            .coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    n_b, s_b, g_b = embedding_moments(df, "embedding")
    n_s, s_s, g_s = load_moments(state)
    assert n_s == n_b == 90
    np.testing.assert_allclose(s_s, s_b, rtol=1e-12)
    np.testing.assert_allclose(g_s, g_b, rtol=1e-12)

    live = streaming_pca(spark, state, k=2)
    batch = fit_pca(df, "embedding", k=2)
    np.testing.assert_allclose(live["components"], batch["components"], atol=1e-9)
    np.testing.assert_allclose(
        live["explained_variance"], batch["explained_variance"], rtol=1e-9
    )

    # crash-replay: re-fold the LAST batch id by hand -> same totals (no
    # double count; bit-level drift only from float-sum order of the
    # recomputed partial)
    last_batch = spark.createDataFrame(
        rows[60:], "vec_id long, embedding array<double>"
    )
    import os
    ids = sorted(int(d.split("=")[1]) for d in os.listdir(state))
    fold_moments_batch(last_batch, "embedding", state, ids[-1])
    n2, s2, g2 = load_moments(state)
    assert n2 == n_s
    np.testing.assert_allclose(s2, s_s, rtol=1e-12)
    np.testing.assert_allclose(g2, g_s, rtol=1e-12)


def test_streaming_classifier_sgd_learns_and_is_replay_safe(spark, tmp_path):
    """Mini-batch SGD over 3 labeled micro-batches: the live model
    separates the classes; one batch of steps == the batch trainer run
    on that same data for the same step count (exact, same machinery);
    replaying the last batch id changes nothing."""
    import numpy as np
    from bitfilters_spark.operators.classifier import (
        classifier_score, train_text_classifier,
    )
    from bitfilters_spark.streaming.classifier import (
        fold_classifier_batch, load_streaming_classifier,
        streaming_classifier_train,
    )

    good = ["careful analysis converges", "held out data variance",
            "theorem assumptions hold", "replicated across seeds",
            "proof follows directly", "results are significant"]
    bad = ["click free casino now", "buy cheap pills winner",
           "bonus click winner free", "casino bonus buy now",
           "free free click buy", "winner pills casino click"]
    rows = [(i, t, 1) for i, t in enumerate(good)] + [
        (100 + i, t, 0) for i, t in enumerate(bad)
    ]
    chunks = [rows[0:4] + rows[6:10], rows[4:5] + rows[10:11],
              rows[5:6] + rows[11:12]]

    src = str(tmp_path / "clf_in"); ckpt = str(tmp_path / "clf_ck")
    state = str(tmp_path / "clf_state")
    def write(chunk):
        spark.createDataFrame(chunk, "doc_id long, text string, label int") \
            .coalesce(1).write.mode("append").parquet(src)

    write(chunks[0])
    stream = spark.readStream.schema(
        "doc_id long, text string, label int"
    ).parquet(src)
    q = streaming_classifier_train(
        stream, "doc_id", "text", "label", state,
        n_buckets=1 << 10, steps_per_batch=10, lr=6.0,
    ).option("checkpointLocation", ckpt).start()
    try:
        q.processAllAvailable()
        # exactness vs the batch trainer: ONE batch seen so far, same
        # data, same steps -> identical weights
        m1 = load_streaming_classifier(state)
        ref = train_text_classifier(
            spark.createDataFrame(chunks[0], "doc_id long, text string, label int"),
            "doc_id", "text", "label", n_buckets=1 << 10, iters=10, lr=6.0,
        )
        np.testing.assert_allclose(m1["weights"], ref["weights"], atol=1e-12)
        assert m1["bias"] == pytest.approx(ref["bias"], abs=1e-12)

        for c in chunks[1:]:
            write(c)
            q.processAllAvailable()
    finally:
        q.stop()

    model = load_streaming_classifier(state)
    assert len(model["losses"]) == 30  # 3 batches x 10 steps
    full = spark.createDataFrame(rows, "doc_id long, text string, label int")
    scored = {r["doc_id"]: r["score"]
              for r in classifier_score(full, "doc_id", "text", model).collect()}
    assert all(scored[i] > 0.6 for i, _, y in rows if y == 1)
    assert all(scored[i] < 0.4 for i, _, y in rows if y == 0)

    # replay the highest batch id by hand: state identical (no double-step)
    import os
    ids = sorted(int(d.split("=")[1]) for d in os.listdir(state))
    last_chunk = spark.createDataFrame(
        chunks[-1], "doc_id long, text string, label int"
    )
    fold_classifier_batch(
        last_chunk, "doc_id", "text", "label", state, ids[-1],
        n_buckets=1 << 10, steps_per_batch=10, lr=6.0,
    )
    again = load_streaming_classifier(state)
    np.testing.assert_allclose(again["weights"], model["weights"], rtol=1e-12)
    assert len(again["losses"]) == 30


def test_state_io_scheme_qualified_uri_and_crash_window(spark, tmp_path):
    """r8: streaming state goes through Spark's Hadoop FileSystem API —
    scheme-qualified URIs (``file:/...``, same resolver as s3a/hdfs on a
    cluster) work for every state family, and a ``batch=`` directory
    left WITHOUT its payload (crash between mkdirs and the npz write)
    is skipped by loaders instead of raising."""
    import numpy as np
    from bitfilters_spark.streaming import state_io
    from bitfilters_spark.streaming.pca import fold_moments_batch, load_moments
    from bitfilters_spark.streaming.classifier import (
        fold_classifier_batch, load_streaming_classifier,
    )
    from bitfilters_spark.streaming.filter_build import load_filter_blob

    # --- raw layer over a file: URI
    uri = "file:" + str(tmp_path / "raw" / "blob.bin")
    assert state_io.read_bytes(uri) is None
    state_io.write_bytes(uri, b"abc123")
    assert state_io.read_bytes(uri) == b"abc123"
    state_io.write_bytes(uri, b"xyz")  # overwrite via tmp+rename
    assert state_io.read_bytes(uri) == b"xyz"
    assert load_filter_blob(uri) == b"xyz"

    # --- PCA moments under a file: URI state path
    state = "file:" + str(tmp_path / "pca_state")
    rows = [(i, [float(i), 1.0]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    fold_moments_batch(df, "embedding", state, 0)
    n, s, g = load_moments(state)
    assert n == 20
    np.testing.assert_allclose(s, np.array([sum(range(20)), 20.0]))

    # --- crash window: an empty batch=1 dir must be invisible
    (tmp_path / "pca_state" / "batch=1").mkdir()
    n2, s2, _ = load_moments(state)
    assert n2 == 20  # fell back to batch=0, did not raise

    # --- classifier state under a file: URI, same crash-window rule
    cstate = "file:" + str(tmp_path / "clf_state")
    labeled = spark.createDataFrame(
        [(0, "good text", 1.0), (1, "bad text", 0.0)] * 5,
        "doc_id long, text string, label double",
    )
    fold_classifier_batch(
        labeled, "doc_id", "text", "label", cstate, 0, n_buckets=64
    )
    m = load_streaming_classifier(cstate)
    assert m is not None and m["n_buckets"] == 64
    (tmp_path / "clf_state" / "batch=7").mkdir()
    m2 = load_streaming_classifier(cstate)
    assert m2 is not None and list(m2["losses"]) == list(m["losses"])


def test_snapshot_retention_keeps_the_replay_predecessor(spark, tmp_path):
    """Batch-keyed snapshots do not accumulate: after each write only the
    newest committed snapshot below it survives, so after 4 folds at
    most 2 ``batch=`` directories remain, and a crash-replay of the last
    batch id still folds onto its predecessor to the same state."""
    import numpy as np
    from bitfilters_spark.streaming.dsir import fold_dsir_batch, load_dsir_counts

    state = str(tmp_path / "ret_state")
    batches = [
        spark.createDataFrame(
            [(i, f"alpha{i % 5} beta{b}") for i in range(10)],
            "doc_id long, text string",
        )
        for b in range(4)
    ]
    for b, df in enumerate(batches):
        fold_dsir_batch(df, "text", state, b, n_buckets=64)
    kept = sorted(p.name for p in (tmp_path / "ret_state").iterdir())
    assert len(kept) <= 2 and kept[-1] == "batch=3", kept
    want = load_dsir_counts(state)
    assert want.sum() == 4 * 10 * 3  # 2 unigrams + 1 bigram per row
    fold_dsir_batch(batches[3], "text", state, 3, n_buckets=64)
    np.testing.assert_array_equal(load_dsir_counts(state), want)


def test_snapshot_reads_survive_retention_races(spark, tmp_path, monkeypatch):
    """A reader racing snapshot retention neither raises nor reports "no
    state": a payload deleted between ``read_bytes``' existence check and
    its open reads as missing, and a listing whose snapshots were all
    deleted behind a newer one is listed once more."""
    import numpy as np
    from bitfilters_spark.streaming import state_io

    state = str(tmp_path / "race_state")
    for b in range(4):
        state_io.write_snapshot(state, "x.npz", b, x=np.array([b]))

    real_fs = state_io._jvm_fs

    class CheckedThenDeleted:
        def __init__(self, fs):
            self.fs, self.checked = fs, False

        def exists(self, p):
            if not self.checked:
                self.checked = True
                return True
            return self.fs.exists(p)

        def open(self, p):
            return self.fs.open(p)

    def racy_fs(path, spark=None):
        jvm, fs, jpath = real_fs(path, spark)
        return jvm, CheckedThenDeleted(fs), jpath

    with monkeypatch.context() as m:
        m.setattr(state_io, "_jvm_fs", racy_fs)
        assert state_io.read_bytes(state_io.join(state, "batch=0", "x.npz")) is None

    listings = iter([
        [(b, state_io.join(state, f"batch={b}")) for b in (0, 1)],
        state_io._batch_dirs(state),
    ])
    monkeypatch.setattr(state_io, "_batch_dirs", lambda _: next(listings))
    assert state_io.load_snapshot(state, "x.npz")["x"].tolist() == [3]


def test_streaming_dsir_counts_match_batch_fit(spark, tmp_path):
    """Streamed raw-side bucket counts over 3 micro-batches == fit_dsir
    on the union (log_ratio to 1e-12); the live model drives dsir_select
    identically; replaying the last batch changes nothing."""
    import numpy as np
    from bitfilters_spark.operators.dsir import dsir_select, fit_dsir
    from bitfilters_spark.streaming.dsir import (
        fold_dsir_batch, load_dsir_counts, streaming_dsir_counts,
        streaming_dsir_model,
    )

    B = 256
    rows = [(i, f"alpha{i % 5} beta{i % 3} junk{i % 17}") for i in range(90)]
    tgt = spark.createDataFrame(
        [(900 + i, f"alpha{i % 5} beta{i % 3}") for i in range(20)],
        "doc_id long, text string",
    )

    src = str(tmp_path / "dsir_in")
    ckpt = str(tmp_path / "dsir_ck")
    state = str(tmp_path / "dsir_state")
    for chunk in (rows[:30], rows[30:60]):
        spark.createDataFrame(chunk, "doc_id long, text string") \
            .coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = streaming_dsir_counts(stream, "text", state, n_buckets=B).option(
        "checkpointLocation", ckpt
    ).start()
    try:
        q.processAllAvailable()
        spark.createDataFrame(rows[60:], "doc_id long, text string") \
            .coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    raw = spark.createDataFrame(rows, "doc_id long, text string")
    live = {
        r["bucket"]: r["log_ratio"]
        for r in streaming_dsir_model(spark, state, tgt, n_buckets=B).collect()
    }
    batch = {
        r["bucket"]: r["log_ratio"]
        for r in fit_dsir(raw, tgt, n_buckets=B).collect()
    }
    assert set(live) == set(batch) and len(live) == B
    for b in live:
        assert abs(live[b] - batch[b]) < 1e-12

    # the live model selects exactly like the batch model
    model = streaming_dsir_model(spark, state, tgt, n_buckets=B)
    a = sorted(r["doc_id"] for r in dsir_select(raw, model, 15, n_buckets=B).collect())
    bsel = sorted(
        r["doc_id"]
        for r in dsir_select(raw, fit_dsir(raw, tgt, n_buckets=B), 15, n_buckets=B).collect()
    )
    assert a == bsel

    # crash-replay of the last batch id: identical counts
    before = load_dsir_counts(state).copy()
    import os
    ids = sorted(int(d.split("=")[1]) for d in os.listdir(state))
    last = spark.createDataFrame(rows[60:], "doc_id long, text string")
    fold_dsir_batch(last, "text", state, ids[-1], n_buckets=B)
    np.testing.assert_array_equal(load_dsir_counts(state), before)


def test_streaming_frontier_politeness_and_backlog_drain(spark, tmp_path):
    """Streaming frontier (#129): per-host per-wave release cap,
    priority order across waves matching the batch scheduler, bounded
    backlog with explicit dropped rows, and watermark-driven drain on
    later batches that carry no new input for the host."""
    import datetime as dt

    from bitfilters_spark.streaming import streaming_frontier

    src = str(tmp_path / "fr_in")
    ckpt = str(tmp_path / "fr_ckpt")

    def write(rows):
        spark.createDataFrame(
            rows, "url string, host string, score double, ts timestamp"
        ).coalesce(1).write.mode("append").parquet(src)

    t = lambda m: dt.datetime(2024, 1, 1, 10, m)
    # host a: 5 URLs, cap 2, backlog cap 2 -> wave 1 releases p5,p4;
    # p3,p2 backlogged; p1 overflows as dropped
    write([(f"http://a/{i}", "a", float(i), t(0)) for i in range(1, 6)])

    stream = spark.readStream.schema(
        "url string, host string, score double, ts timestamp"
    ).parquet(src)
    fr = streaming_frontier(
        stream, "url", "host", ts_col="ts", priority_col="score",
        per_wave=2, max_backlog=2,
    )
    q = (
        fr.writeStream.format("memory")
        .queryName("fr_sink")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )

    def got():
        return [
            (r["host"], r["url"], r["wave"], r["status"])
            for r in spark.sql(
                "SELECT * FROM fr_sink ORDER BY host, wave, priority DESC, url"
            ).collect()
        ]

    try:
        # processAllAvailable runs the drain timers as the watermark
        # advances, so the backlog may flush across several waves within
        # one call — the politeness CONTRACT is per-wave, not per-call
        q.processAllAvailable()
        write([("http://b/1", "b", 1.0, t(1))])
        q.processAllAvailable()
        write([("http://b/2", "b", 1.0, t(2))])
        q.processAllAvailable()
        rows = got()
        a_rel = {(u, w) for h, u, w, s in rows if h == "a" and s == "released"}
        # priority order across waves, never more than per_wave per wave
        assert a_rel == {
            ("http://a/5", 1), ("http://a/4", 1),
            ("http://a/3", 2), ("http://a/2", 2),
        }
        from collections import Counter

        per_wave = Counter((h, w) for h, u, w, s in rows if s == "released")
        assert max(per_wave.values()) <= 2
        # overflow is an explicit dropped row tagged wave = -1 (it was
        # never scheduled into a wave), and never releases
        assert [r for r in rows if r[3] == "dropped"] == [
            ("a", "http://a/1", -1, "dropped")
        ]
        urls = [u for h, u, w, s in rows if s == "released"]
        assert len(urls) == len(set(urls)) and "http://a/1" not in urls
        # host b schedules independently
        b_rel = [u for h, u, w, s in rows if h == "b" and s == "released"]
        assert set(b_rel) == {"http://b/1", "http://b/2"}
    finally:
        q.stop()


def test_streaming_frontier_resubmission_default_at_least_once(spark, tmp_path):
    """Re-submission contract, default mode (r9 directive #6): a URL
    released in wave k that re-arrives in a later micro-batch is
    released AGAIN — released URLs leave state, so the frontier is
    at-least-once per submission (the documented contract; a crawler
    feeding extracted links back in must dedupe upstream or opt into
    dedupe=True)."""
    import datetime as dt

    from bitfilters_spark.streaming import streaming_frontier

    src = str(tmp_path / "rs_in")
    ckpt = str(tmp_path / "rs_ckpt")

    def write(rows):
        spark.createDataFrame(
            rows, "url string, host string, ts timestamp"
        ).coalesce(1).write.mode("append").parquet(src)

    t = lambda m: dt.datetime(2024, 1, 1, 10, m)
    write([("http://a/x", "a", t(0))])
    stream = spark.readStream.schema(
        "url string, host string, ts timestamp"
    ).parquet(src)
    fr = streaming_frontier(stream, "url", "host", ts_col="ts", per_wave=2)
    q = (
        fr.writeStream.format("memory")
        .queryName("rs_sink")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        write([("http://a/x", "a", t(1))])  # the SAME url, re-discovered
        q.processAllAvailable()
        rel = [
            (r["url"], r["wave"])
            for r in spark.sql(
                "SELECT * FROM rs_sink WHERE status = 'released' ORDER BY wave"
            ).collect()
        ]
        # released twice — once per submission (the wave counter restarts
        # between the two because the drained host's state was removed;
        # waves number rounds WITHIN a backlog episode)
        assert [u for u, _ in rel] == ["http://a/x", "http://a/x"]
    finally:
        q.stop()


def test_streaming_frontier_dedupe_exactly_once_in_window(spark, tmp_path):
    """dedupe=True: re-arrivals of already-released URLs are suppressed
    (exactly-once within the seen_cap window), duplicates WITHIN a batch
    collapse to one release at their max priority, backlogged duplicates
    are suppressed too, and genuinely new URLs still flow."""
    import datetime as dt

    from bitfilters_spark.streaming import streaming_frontier

    src = str(tmp_path / "dd_in")
    ckpt = str(tmp_path / "dd_ckpt")

    def write(rows):
        spark.createDataFrame(
            rows, "url string, host string, score double, ts timestamp"
        ).coalesce(1).write.mode("append").parquet(src)

    t = lambda m: dt.datetime(2024, 1, 1, 10, m)
    # batch 1: x twice (in-batch dup, different priorities), y once; cap 1
    # -> wave 1 releases x at its max priority 9.0, y backlogs
    write(
        [
            ("http://a/x", "a", 1.0, t(0)),
            ("http://a/x", "a", 9.0, t(0)),
            ("http://a/y", "a", 5.0, t(0)),
        ]
    )
    stream = spark.readStream.schema(
        "url string, host string, score double, ts timestamp"
    ).parquet(src)
    fr = streaming_frontier(
        stream, "url", "host", ts_col="ts", priority_col="score",
        per_wave=1, dedupe=True,
    )
    q = (
        fr.writeStream.format("memory")
        .queryName("dd_sink")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: x again (already released), y again (still backlogged
        # or just released), z new
        write(
            [
                ("http://a/x", "a", 9.9, t(1)),
                ("http://a/y", "a", 5.0, t(1)),
                ("http://a/z", "a", 2.0, t(1)),
            ]
        )
        q.processAllAvailable()
        write([("http://a/nudge", "a", 0.1, t(3))])  # advance watermark
        q.processAllAvailable()
        rows = [
            (r["url"], r["priority"], r["status"])
            for r in spark.sql("SELECT * FROM dd_sink ORDER BY wave, url").collect()
        ]
        rel = [u for u, p, s in rows if s == "released"]
        # every url released exactly once, x at the collapsed max priority
        assert sorted(rel) == [
            "http://a/nudge", "http://a/x", "http://a/y", "http://a/z"
        ]
        assert [p for u, p, s in rows if u == "http://a/x"] == [9.0]
        assert not [r for r in rows if r[2] == "dropped"]
    finally:
        q.stop()


def test_streaming_bm25_index_maintenance_exactly_once(spark, tmp_path):
    """Streaming index maintenance (#133): a live stream folds new docs
    into the persisted BM25 index per micro-batch (cost ∝ batch, corpus
    never rescanned); after the stream drains, probing equals a batch
    rebuild over everything. Batch-id markers make crash replays no-ops
    (pinned by calling the fold twice with the same id)."""
    from bitfilters_spark.operators.bm25_index import (
        bm25_query_index,
        build_bm25_index,
    )
    from bitfilters_spark.streaming import (
        bm25_maintenance_fold,
        streaming_bm25_index,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    seed = docs.where(F.col("doc_id") < 100)
    rest = docs.where(F.col("doc_id") >= 100)
    build_bm25_index(
        seed, "doc_id", "text", "sbm25", num_buckets=4,
        path=str(tmp_path / "ix"),
    )
    src = str(tmp_path / "in")
    rest.coalesce(2).write.parquet(src)
    stream = spark.readStream.schema(rest.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = (
        streaming_bm25_index(
            stream.select("doc_id", "text"), "doc_id", "text", "sbm25",
            str(tmp_path / "markers"), num_buckets=4,
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    queries = docs.where(F.col("doc_id").isin(0, 5, 10)).select(
        F.col("doc_id").alias("query_id"),
        F.substring_index("text", " ", 8).alias("query"),
    )
    build_bm25_index(
        docs, "doc_id", "text", "sbm25_full", num_buckets=4,
        path=str(tmp_path / "full"),
    )
    a = {
        (r["query_id"], r["id"]): r["score"]
        for r in bm25_query_index(spark, "sbm25", queries).collect()
    }
    b = {
        (r["query_id"], r["id"]): r["score"]
        for r in bm25_query_index(spark, "sbm25_full", queries).collect()
    }
    assert a == b and len(a) > 0
    # crash-replay: re-applying an already-marked batch id is a no-op
    fold = bm25_maintenance_fold(
        "doc_id", "text", "sbm25", str(tmp_path / "m2"), num_buckets=4
    )
    extra = docs.where(F.col("doc_id") == 3).select("doc_id", "text")
    fold(extra, 7)
    before = spark.table("sbm25_postings").count()
    fold(extra, 7)  # replayed batch: marker short-circuits
    assert spark.table("sbm25_postings").count() == before


def test_streaming_ann_index_maintenance(spark, tmp_path):
    """Streaming ANN maintenance (#134): micro-batches route through the
    FROZEN stored centroids and append; after the drain, probes equal a
    rebuild over the union with the same centroids; replays are no-ops."""
    from bitfilters_spark.operators.ann_index import (
        ann_query_index,
        build_ann_index,
    )
    from bitfilters_spark.streaming import (
        ann_maintenance_fold,
        streaming_ann_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    seed = emb.where(F.col("vec_id") % 2 == 0)
    rest = emb.where(F.col("vec_id") % 2 == 1)
    C = build_ann_index(
        seed, "vec_id", "embedding", "sann", n_centroids=8, num_buckets=4,
        path=str(tmp_path / "ix"),
    )
    src = str(tmp_path / "in")
    rest.coalesce(2).write.parquet(src)
    stream = spark.readStream.schema(rest.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = (
        streaming_ann_index(
            stream.select("vec_id", "embedding"), "vec_id", "embedding",
            "sann", str(tmp_path / "markers"), num_buckets=4,
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    build_ann_index(
        emb, "vec_id", "embedding", "sann_full", n_centroids=8,
        num_buckets=4, path=str(tmp_path / "full"), centroids=C,
    )
    queries = emb.where(F.col("vec_id") < 6)
    a = sorted(map(tuple, ann_query_index(
        spark, "sann", queries, "vec_id", "embedding", k=5, nprobe=8
    ).collect()))
    b = sorted(map(tuple, ann_query_index(
        spark, "sann_full", queries, "vec_id", "embedding", k=5, nprobe=8
    ).collect()))
    assert a == b and len(a) > 0
    fold = ann_maintenance_fold(
        "vec_id", "embedding", "sann", str(tmp_path / "m2"), num_buckets=4
    )
    extra = emb.where(F.col("vec_id") == 2).select("vec_id", "embedding")
    fold(extra, 3)
    before = spark.table("sann_cells").count()
    fold(extra, 3)
    assert spark.table("sann_cells").count() == before


def test_streaming_frontier_dense_waves_and_seen_ttl(spark, tmp_path):
    """r11 contract tightening: (a) wave numbers are DENSE — an
    invocation whose incoming rows were ALL suppressed as duplicates
    does not burn a wave number, so wave k is the host's k-th actual
    release round; (b) with dedupe, a fully-drained host's seen-window
    ages out seen_ttl_ms past the last activity, after which a
    re-submitted URL is released again (state tracks active hosts)."""
    import datetime as dt

    from bitfilters_spark.streaming import streaming_frontier

    src = str(tmp_path / "dw_in")
    ckpt = str(tmp_path / "dw_ckpt")

    def write(rows):
        spark.createDataFrame(
            rows, "url string, host string, ts timestamp"
        ).coalesce(1).write.mode("append").parquet(src)

    t = lambda m: dt.datetime(2024, 1, 1, 10, m)
    write([("http://a/x", "a", t(0))])
    stream = spark.readStream.schema(
        "url string, host string, ts timestamp"
    ).parquet(src)
    fr = streaming_frontier(
        stream, "url", "host", ts_col="ts", per_wave=2, dedupe=True,
        seen_ttl_ms=120_000,  # 2 minutes of event time
    )
    q = (
        fr.writeStream.format("memory")
        .queryName("dw_sink")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: ONLY a duplicate — suppressed, must not burn a wave
        write([("http://a/x", "a", t(1))])
        q.processAllAvailable()
        # batch 3: a genuinely new URL — must release as wave 2, not 3
        # (t(2): must sit ABOVE the watermark, which is already t(1))
        write([("http://a/y", "a", t(2))])
        q.processAllAvailable()
        rows = {
            r["url"]: r["wave"]
            for r in spark.sql(
                "SELECT * FROM dw_sink WHERE status='released'"
            ).collect()
        }
        assert rows == {"http://a/x": 1, "http://a/y": 2}
        # advance the watermark far past the 2-minute TTL so the
        # drained host's seen-window ages out...
        write([("http://a/nudge", "a", t(10))])
        q.processAllAvailable()
        write([("http://b/advance", "b", t(30))])
        q.processAllAvailable()
        # ...then re-submit x: released AGAIN (the TTL removed the whole
        # host state, wave numbering restarts with it)
        write([("http://a/x", "a", t(31))])
        q.processAllAvailable()
        xs = [
            (r["wave"])
            for r in spark.sql(
                "SELECT * FROM dw_sink WHERE status='released' "
                "AND url='http://a/x' ORDER BY wave"
            ).collect()
        ]
        assert len(xs) == 2 and xs[0] == 1  # aged out, so released twice
    finally:
        q.stop()


def test_streaming_kn_stats_match_batch_train(spark, tmp_path):
    """Streamed KN sufficient statistics over 3 micro-batches == 
    train_kn_lm on the union: identical scalars/discount, and kn_score
    over the streamed model matches the batch model to 1e-12. Replaying
    an applied batch id is a no-op; compaction collapses the partial
    file-sets and leaves the model identical."""
    from bitfilters_spark.operators.lm import kn_score, train_kn_lm
    from bitfilters_spark.streaming.lm import (
        compact_kn_state,
        kn_stats_fold,
        streaming_kn_model,
        streaming_kn_stats,
    )
    from bitfilters_spark.streaming import state_io

    rows = [
        (i, f"the quick brown fox {i % 7} jumps over the lazy dog {i % 3}")
        for i in range(60)
    ]
    src = str(tmp_path / "kn_in")
    ckpt = str(tmp_path / "kn_ck")
    state = str(tmp_path / "kn_state")
    markers = str(tmp_path / "kn_markers")
    for chunk in (rows[:20], rows[20:40]):
        spark.createDataFrame(chunk, "doc_id long, text string") \
            .coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = streaming_kn_stats(stream, "text", state, markers).option(
        "checkpointLocation", ckpt
    ).start()
    try:
        q.processAllAvailable()
        spark.createDataFrame(rows[40:], "doc_id long, text string") \
            .coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    union = spark.createDataFrame(rows, "doc_id long, text string")
    live = streaming_kn_model(spark, state, vocab_size=1 << 20)
    batch = train_kn_lm(union, "text", vocab_size=1 << 20)
    for k in ("n_bigram_types", "n_bigrams", "n_tokens", "discount"):
        assert live[k] == batch[k], k

    probe = spark.createDataFrame(
        [(1, "the quick brown fox 3 jumps"), (2, "zebra unseen context")],
        "doc_id long, text string",
    )
    a = {r["doc_id"]: r["avg_logp"] for r in kn_score(probe, "doc_id", "text", live).collect()}
    b = {r["doc_id"]: r["avg_logp"] for r in kn_score(probe, "doc_id", "text", batch).collect()}
    for k in a:
        assert a[k] == pytest.approx(b[k], abs=1e-12)

    # replaying an applied batch id changes nothing
    n_bi_before = spark.read.parquet(f"{state}/bigrams").count()
    applied = sorted(
        int(n.split("-")[1]) for n in state_io.list_names(markers, spark)
    )
    kn_stats_fold("text", state, markers)(
        spark.createDataFrame(rows[40:], "doc_id long, text string"),
        applied[-1],
    )
    assert spark.read.parquet(f"{state}/bigrams").count() == n_bi_before

    # compaction: fewer files, identical model
    stats = compact_kn_state(spark, state)
    assert stats["files_after"] < stats["files_before"]
    assert stats["files_after"] == 2  # one file per table
    live2 = streaming_kn_model(spark, state, vocab_size=1 << 20)
    for k in ("n_bigram_types", "n_bigrams", "n_tokens", "discount"):
        assert live2[k] == batch[k], k
    a2 = {r["doc_id"]: r["avg_logp"] for r in kn_score(probe, "doc_id", "text", live2).collect()}
    for k in a2:
        assert a2[k] == pytest.approx(b[k], abs=1e-12)

    # empty state: None
    assert streaming_kn_model(spark, str(tmp_path / "nope")) is None


def test_streaming_word_stats_match_batch_tokenizers(spark, tmp_path):
    """Streamed word-frequency statistics over 3 micro-batches ==
    word_frequencies on the union — so BOTH tokenizer families trained
    from the folded state equal their batch twins exactly (#145's
    equivalence law for tokenizers, r12 directive 6). Replaying an
    applied batch id is a no-op; compaction collapses the partials and
    leaves both models identical."""
    from bitfilters_spark.operators.bpe import train_bpe
    from bitfilters_spark.operators.unigram import train_unigram
    from bitfilters_spark.streaming import state_io
    from bitfilters_spark.streaming.tokenizer import (
        compact_word_stats,
        streaming_bpe_model,
        streaming_unigram_model,
        streaming_word_frequencies,
        streaming_word_stats,
        word_stats_fold,
    )

    rows = [
        (i, f"inter nation al{i % 5} national internationalization {i % 3}")
        for i in range(60)
    ]
    src = str(tmp_path / "tok_in")
    ckpt = str(tmp_path / "tok_ck")
    state = str(tmp_path / "tok_state")
    markers = str(tmp_path / "tok_markers")
    for chunk in (rows[:20], rows[20:40]):
        spark.createDataFrame(chunk, "doc_id long, text string") \
            .coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = streaming_word_stats(stream, "text", state, markers).option(
        "checkpointLocation", ckpt
    ).start()
    try:
        q.processAllAvailable()
        spark.createDataFrame(rows[40:], "doc_id long, text string") \
            .coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    union = spark.createDataFrame(rows, "doc_id long, text string")
    from bitfilters_spark.operators.bpe import word_frequencies

    folded = {
        (r["word"], r["n"])
        for r in streaming_word_frequencies(spark, state).collect()
    }
    want = {
        (r["word"], r["n"])
        for r in word_frequencies(union, "text", None).collect()
    }
    assert folded == want

    live_bpe = streaming_bpe_model(spark, state, num_merges=30)
    batch_bpe = train_bpe(union, "text", num_merges=30)
    assert live_bpe == batch_bpe

    live_uni = streaming_unigram_model(
        spark, state, vocab_size=40, seed_size=300, em_rounds=1
    )
    batch_uni = train_unigram(
        union, "text", vocab_size=40, seed_size=300, em_rounds=1
    )
    assert live_uni["pieces"].keys() == batch_uni["pieces"].keys()
    for p in live_uni["pieces"]:
        assert live_uni["pieces"][p] == pytest.approx(
            batch_uni["pieces"][p], abs=1e-12
        )

    # replaying an applied batch id changes nothing
    n_before = spark.read.parquet(f"{state}/words").count()
    applied = sorted(
        int(n.split("-")[1]) for n in state_io.list_names(markers, spark)
    )
    word_stats_fold("text", state, markers)(
        spark.createDataFrame(rows[40:], "doc_id long, text string"),
        applied[-1],
    )
    assert spark.read.parquet(f"{state}/words").count() == n_before

    # compaction: rows collapse to distinct words, models identical
    rep = compact_word_stats(spark, state)
    assert rep["rows_after"] < rep["rows_before"]
    folded2 = {
        (r["word"], r["n"])
        for r in streaming_word_frequencies(spark, state).collect()
    }
    assert folded2 == want
    assert streaming_bpe_model(spark, state, num_merges=30) == batch_bpe

    # empty state: None
    assert streaming_word_frequencies(spark, str(tmp_path / "nope")) is None
    assert streaming_bpe_model(spark, str(tmp_path / "nope")) is None


@pytest.mark.parametrize("family", ["lm", "tokenizer", "cdc"])
def test_partial_table_compaction_crash_heals(spark, tmp_path, family):
    """A compaction that crashed between its two renames — the live table
    renamed to ``__old``, its ``__stage`` written but not renamed in —
    loses nothing: the read returns the same totals, the next fold
    appends to the healed state, and a new compaction completes."""
    from bitfilters_spark.streaming import cdc, lm, tokenizer

    def kn_totals(state):
        m = lm.streaming_kn_model(spark, state, vocab_size=1 << 20)
        return m and (m["n_bigram_types"], m["n_bigrams"], m["n_tokens"])

    def table_totals(read):
        def totals(state):
            df = read(spark, state)
            return None if df is None else set(map(tuple, df.collect()))

        return totals

    fold, table, totals, compact = {
        "lm": (
            lambda st, mk: lm.kn_stats_fold("text", st, mk),
            "bigrams", kn_totals, lm.compact_kn_state,
        ),
        "tokenizer": (
            lambda st, mk: tokenizer.word_stats_fold("text", st, mk),
            "words", table_totals(tokenizer.streaming_word_frequencies),
            tokenizer.compact_word_stats,
        ),
        "cdc": (
            lambda st, mk: cdc.cdc_stats_fold(
                "doc_id", "text", st, mk, min_size=16, avg_size=64, max_size=256
            ),
            "chunks", table_totals(cdc.streaming_chunk_counts),
            cdc.compact_cdc_stats,
        ),
    }[family]

    rows = [
        (i, " ".join(f"w{(i * j) % 11} v{j % 4}" for j in range(30)))
        for i in range(12)
    ]
    batches = [
        spark.createDataFrame(rows[k::3], "doc_id long, text string")
        for k in range(3)
    ]
    state = str(tmp_path / "state")
    live = tmp_path / "state" / table

    def crash():
        spark.read.parquet(str(live)).write.mode("overwrite").parquet(
            f"{live}__stage"
        )
        os.rename(live, f"{live}__old")

    step = fold(state, str(tmp_path / "markers"))
    step(batches[0], 0)
    step(batches[1], 1)
    before = totals(state)
    crash()
    assert totals(state) == before  # the read heals

    crash()
    step(batches[2], 2)  # the append heals before it writes
    ref = str(tmp_path / "ref")
    fold(ref, str(tmp_path / "ref_markers"))(
        spark.createDataFrame(rows, "doc_id long, text string"), 0
    )
    want = totals(ref)
    assert want and totals(state) == want

    crash()
    compact(spark, state)  # the compaction heals, then swaps
    assert not os.path.exists(f"{live}__old")
    assert not os.path.exists(f"{live}__stage")
    assert totals(state) == want


def test_streaming_preference_report_matches_batch(spark, tmp_path):
    """Streamed preference counters over 3 micro-batches == the batch
    length_bias_report on the union, EXACTLY (integer partials, one
    final division); replaying an applied batch id is a no-op; empty
    state -> None."""
    from bitfilters_spark.operators.preference import length_bias_report
    from bitfilters_spark.streaming import state_io
    from bitfilters_spark.streaming.preference import (
        preference_stats_fold,
        streaming_preference_report,
        streaming_preference_stats,
    )

    rows = []
    for i in range(60):
        chosen = "good answer " * (1 + i % 4)
        rejected = "bad " * (1 + (i * 3) % 5)
        if i % 10 == 0:
            rejected = chosen  # identical pair: not pref_ok
        rows.append((i, f"prompt {i}", chosen.strip(), rejected.strip()))
    schema = "pair_id long, prompt string, chosen string, rejected string"
    src = str(tmp_path / "pref_in")
    ckpt = str(tmp_path / "pref_ck")
    state = str(tmp_path / "pref_state")
    markers = str(tmp_path / "pref_markers")
    for chunk in (rows[:20], rows[20:40]):
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = streaming_preference_stats(stream, state, markers).option(
        "checkpointLocation", ckpt
    ).start()
    try:
        q.processAllAvailable()
        spark.createDataFrame(rows[40:], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    union = spark.createDataFrame(rows, schema)
    live = streaming_preference_report(spark, state).collect()[0].asDict()
    batch = length_bias_report(union).collect()[0].asDict()
    assert live == batch

    # replaying an applied batch id changes nothing
    n_before = spark.read.parquet(f"{state}/partials").count()
    applied = sorted(
        int(n.split("-")[1]) for n in state_io.list_names(markers, spark)
    )
    preference_stats_fold(state, markers)(
        spark.createDataFrame(rows[40:], schema), applied[-1]
    )
    assert spark.read.parquet(f"{state}/partials").count() == n_before

    assert streaming_preference_report(spark, str(tmp_path / "nope")) is None
