"""Physical-plan assertions (SURVEY §2.3 / §5.7): predicate pushdown,
column pruning, and map-side probing must actually appear in the plans —
these properties, not the operator code, are what survive a 100x scale-up."""

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from bitfilters_spark.functions import build_filter, probe_filter
from bitfilters_spark.functions.hashing import spark_hash64

SF = "/root/testdata/sf0.001"


def plan_of(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_filter_join_pushes_predicate_and_prunes_columns(spark):
    import __spark_entry__ as E

    plan = plan_of(E.q_filter_join(spark, SF))
    assert "PushedFilters" in plan
    assert "GreaterThan(o_totalprice" in plan, "dim predicate must reach the scan"
    # lineitem scan must not read the full 16-column schema
    schema_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    li = [ln for ln in schema_lines if "l_orderkey" in ln]
    assert li, plan
    (schema_line,) = li
    for col in ("l_orderkey", "l_quantity", "l_returnflag"):
        assert col in schema_line
    for col in ("l_comment", "l_shipdate", "l_partkey"):
        assert col not in schema_line, f"unpruned column {col} in lineitem scan"


def test_probe_is_mapside_no_shuffle(spark):
    """probe_filter must add zero Exchanges: scan -> hash -> probe UDF is
    the whole pre-cut pipeline (the blob rides a broadcast variable, not a
    join), so the 100 TB fact side never shuffles before the row cut."""
    lineitem = spark.read.parquet(f"{SF}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    hot = orders.where(F.col("o_totalprice") > 450000.0).select("o_orderkey")
    blobs = build_filter(
        hot.select(spark_hash64("o_orderkey").alias("h")), [], "h", "bloom",
        n=10_000, fpp=0.01,
    )
    probed = probe_filter(
        lineitem.withColumn("h", spark_hash64("l_orderkey")), blobs, "h"
    ).where(F.col("__contains"))
    plan = plan_of(probed)
    assert "Exchange" not in plan, f"probe path must not shuffle:\n{plan}"


def test_duckdb_bloom_probe_runs_in_the_jvm(spark):
    """A global duckdb_bloom probe is a broadcast join on the sector plus a
    mask expression: no Python UDF node, and the probed side still never
    shuffles (the only exchange is the sector relation's broadcast)."""
    lineitem = spark.read.parquet(f"{SF}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    hot = orders.where(F.col("o_totalprice") > 450000.0).select("o_orderkey")
    blobs = build_filter(
        hot.select(spark_hash64("o_orderkey").alias("h")), [], "h",
        "duckdb_bloom", num_sectors=1024,
    )
    probed = probe_filter(
        lineitem.withColumn("h", spark_hash64("l_orderkey")), blobs, "h"
    ).where(F.col("__contains"))
    plan = plan_of(probed)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    assert "BroadcastExchange" in plan, plan
    shuffles = [ln for ln in plan.splitlines()
                if "Exchange" in ln and "BroadcastExchange" not in ln]
    assert not shuffles, f"probe path must not shuffle:\n{plan}"


@pytest.mark.parametrize("fact_type", ["tinyint", "smallint", "int"])
def test_filter_joins_match_exact_joins_across_key_widths(spark, fact_type):
    """Narrow integral fact keys against the same bigint dim keys: the
    filter must hash both at one width, or it drops true matches (hashed
    at their own widths, these joins kept none of the n matches)."""
    from bitfilters_spark.plans.filter_join import (
        antijoin_filter,
        bloom_prefiltered_join,
        semijoin_filter,
    )

    n = 100 if fact_type == "tinyint" else 500
    fact = spark.range(n).select(F.col("id").cast(fact_type).alias("fk"))
    dim = spark.range(n).select(F.col("id").alias("dk"))
    assert bloom_prefiltered_join(fact, dim, "fk", "dk").count() == n
    assert antijoin_filter(fact, dim, "fk", "dk").count() == 0
    assert semijoin_filter(fact, dim, "fk", "dk").count() == n
    # and the other way round: bigint fact keys, narrow dim keys
    assert bloom_prefiltered_join(dim, fact, "dk", "fk").count() == n
    assert antijoin_filter(dim, fact, "dk", "fk").count() == 0


def test_projection_prunes_document_scan(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = docs.select("doc_id", F.length("text").alias("n"))
    plan = plan_of(q)
    line = next(ln for ln in plan.splitlines() if "ReadSchema" in ln)
    assert "doc_id" in line and "text" in line
    assert "lang" not in line and "source" not in line


def test_bloom_prefiltered_join_equals_plain_join(spark):
    from bitfilters_spark.plans import bloom_prefiltered_join, semijoin_filter

    lineitem = spark.read.parquet(f"{SF}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    hot = orders.where(F.col("o_totalprice") > 300000.0).select("o_orderkey")
    got = (
        bloom_prefiltered_join(lineitem, hot, "l_orderkey", "o_orderkey")
        .groupBy().agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q"))
        .collect()[0]
    )
    want = (
        lineitem.join(hot, lineitem["l_orderkey"] == hot["o_orderkey"])
        .groupBy().agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q"))
        .collect()[0]
    )
    assert (got["n"], got["q"]) == (want["n"], want["q"])
    # exact semijoin == leftsemi join; approximate is a superset
    exact = semijoin_filter(lineitem, hot, "l_orderkey", "o_orderkey").count()
    plain = lineitem.join(
        hot, lineitem["l_orderkey"] == hot["o_orderkey"], "leftsemi"
    ).count()
    approx = semijoin_filter(
        lineitem, hot, "l_orderkey", "o_orderkey", exact=False
    ).count()
    assert exact == plain and approx >= plain


def test_salted_join_equals_plain_join_on_skewed_data(spark):
    from bitfilters_spark.plans import salted_join

    # 90% of fact rows hit one key — the salting target shape
    fact = spark.range(0, 20_000).select(
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 100).alias("k"),
        F.col("id").alias("payload"),
    )
    dim = spark.range(0, 100).select(
        F.col("id").alias("dk"), (F.col("id") * 10).alias("dval")
    )
    got = (
        salted_join(fact, dim, "k", "dk", n_salts=8)
        .groupBy().agg(F.count(F.lit(1)).alias("n"), F.sum("dval").alias("s"))
        .collect()[0]
    )
    want = (
        fact.join(dim, fact["k"] == dim["dk"])
        .groupBy().agg(F.count(F.lit(1)).alias("n"), F.sum("dval").alias("s"))
        .collect()[0]
    )
    assert (got["n"], got["s"]) == (want["n"], want["s"])


def test_groupby_uses_partial_aggregation(spark):
    """Member-count queries must partial-aggregate map-side (HashAggregate
    below the Exchange) so the shuffle carries one row per group per task,
    not raw rows."""
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    q = orders.groupBy((F.col("o_orderkey") % 2).alias("g")).count()
    plan = plan_of(q, mode="simple")
    lines = plan.splitlines()
    agg_idx = [i for i, ln in enumerate(lines) if "HashAggregate" in ln]
    ex_idx = [i for i, ln in enumerate(lines) if "Exchange" in ln]
    assert len(agg_idx) >= 2 and ex_idx, plan
    # in the printed tree the map-side (partial) aggregate appears BELOW
    # the exchange: partial -> shuffle -> final
    assert min(agg_idx) < min(ex_idx) < max(agg_idx)


def test_antijoin_filter_equals_plain_anti(spark):
    """Decontamination shape: bloom-accelerated anti-join must equal the
    plain left_anti join (the filter only short-circuits clean rows)."""
    from bitfilters_spark.plans.filter_join import antijoin_filter

    fact = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    keys = fact.where(F.col("o_custkey") % 7 == 0).select("o_custkey").distinct()
    got = antijoin_filter(fact, keys, "o_custkey", "o_custkey", kind="bloom", n=5000, fpp=0.01)
    want = fact.join(keys, "o_custkey", "left_anti")
    assert got.count() == want.count()
    want_ids = sorted(r["o_orderkey"] for r in want.collect())
    assert sorted(r["o_orderkey"] for r in got.collect()) == want_ids

    # r14: a pre-built blob (the guide-§2.6 overlapped-build path) must
    # produce the identical result to the build-inline path
    from bitfilters_spark.functions.filters import build_filter
    from bitfilters_spark.functions.hashing import spark_hash64

    rows = build_filter(
        keys.select(spark_hash64("o_custkey").alias("__h")), [], "__h",
        "bloom", n=5000, fpp=0.01,
    ).collect()
    pre = antijoin_filter(
        fact, keys, "o_custkey", "o_custkey",
        blobs={(): bytes(rows[0]["filter"])},
    )
    assert sorted(r["o_orderkey"] for r in pre.collect()) == want_ids


def test_simhash_pairs_index_side_broadcasts(spark):
    """Asymmetric banding posture: the exact-value index side rides a
    BroadcastHashJoin and the hamming verify runs INSIDE the join
    condition (no candidate row survives to a later filter pass)."""
    from bitfilters_spark.operators.dedup import simhash_pairs_from_sigs

    sig = spark.createDataFrame(
        [(i, i * 7919) for i in range(100)], "doc_id long, simhash long"
    ).cache()
    sig.count()  # the production path (simhash_near_pairs) always caches
    plan = plan_of(simhash_pairs_from_sigs(sig, "doc_id", 8))
    sig.unpersist()
    assert "BroadcastHashJoin" in plan
    assert "bit_count" in plan and "Join condition" in plan


def test_shingle_join_reuses_window_partitioning(spark):
    """The window df-count leaves rows hash-partitioned by the shingle key;
    the blocking self-join must add no further Exchange between the window
    and the join (one shuffle total below the pair aggregation)."""
    from bitfilters_spark.operators.dedup import shingle_jaccard_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(
        shingle_jaccard_pairs(docs, "doc_id", "text", 3, 0.1, df_cap=64)
    )
    # the join of the two cached/window branches must be key-reusing:
    # no Exchange may appear between Window and SortMergeJoin
    lines = plan.splitlines()
    smj = [i for i, ln in enumerate(lines) if "SortMergeJoin" in ln]
    if smj:  # AQE may pick another strategy on tiny data; assert when SMJ
        window_idx = [i for i, ln in enumerate(lines) if "Window" in ln]
        assert window_idx, plan
        between = lines[min(window_idx): smj[0]]
        assert not any(
            "Exchange hashpartitioning(s#" in ln for ln in between
        ), plan


def test_vocab_topk_plans_take_ordered(spark):
    import __spark_entry__ as E

    plan = plan_of(E.q_vocab_topk(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan


def test_pack_shards_has_no_global_single_partition_sort(spark):
    """The prefix sum must never plan a 1-partition global window: the
    range repartition + mapInPandas pass is the whole story. The range
    exchange itself is no longer visible in the final plan — it runs
    inside the eager localCheckpoint that pins the partitioning the
    driver offsets were computed against (a cached plan could be evicted
    and recomputed with drifted boundaries) — so assert the checkpoint
    leaf + the requested partition count instead."""
    from bitfilters_spark.operators.packing import pack_shards

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.length("text").alias("w")
    )
    out = pack_shards(docs, "doc_id", "w", 1000, n_partitions=7)
    plan = plan_of(out)
    assert "Window" not in plan
    assert "scan existingrdd" in plan.lower()  # checkpointed leaf, lineage cut
    assert "mapinpandas" in plan.lower()
    assert out.rdd.getNumPartitions() == 7  # range partitioning held


def test_dedup_paragraphs_elects_winners_without_a_paragraph_window(spark):
    """The first-occurrence election must be a partial-aggregating
    min(struct) groupBy (hot boilerplate paragraphs fold map-side), never
    a per-paragraph Window that would pull every copy of a hot paragraph
    into one task."""
    from bitfilters_spark.operators.dedup import dedup_paragraphs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(dedup_paragraphs(docs, "doc_id", "text", sep=" "))
    assert "Window" not in plan
    # partial aggregation below the exchange for the winner election
    assert "partial_min" in plan.lower() or "HashAggregate" in plan


def test_duplicated_spans_elects_winners_without_a_gram_window(spark):
    """Same invariant as the paragraph election, at gram granularity: the
    winner choice must be a partial-aggregating min(struct) groupBy — a
    boilerplate gram with 10^8 copies folds map-side — and span merging
    is the only Window, partitioned per document."""
    from bitfilters_spark.operators.substring import duplicated_spans

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(duplicated_spans(docs, "doc_id", "text", n=5))
    # the per-doc span merge is the only Window in the plan
    assert plan.count("Window") >= 1
    assert "partial_min" in plan.lower() or "HashAggregate" in plan
    # the election side (gram hash -> min struct) must aggregate, not rank
    assert "row_number" not in plan.lower().replace("span", "")


def test_bottomk_sample_shuffles_blobs_not_rows(spark):
    """The BKS build must be two-phase: a map-side MapInArrow partial pass
    feeding a grouped merge — the exchange between them carries one blob
    per (partition, group), never the sampled table's rows."""
    from bitfilters_spark.functions.sample import bottomk_sample

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    keyed = orders.select(
        (F.col("o_orderkey") % 2).alias("grp"),
        spark_hash64("o_orderkey").alias("h"),
        F.col("o_custkey").alias("v"),
    )
    plan = plan_of(bottomk_sample(keyed, ["grp"], "h", "v", k=64))
    # partial pass below the exchange, grouped merge above it
    i_map = plan.find("MapInArrow")
    i_exc = plan.find("Exchange")
    i_fmap = plan.find("FlatMapGroupsInArrow")
    assert -1 < i_fmap < i_exc < i_map  # formatted plans print top-down


def test_chunk_documents_is_shuffle_free(spark):
    """Chunking is row-local: no Exchange anywhere in the plan, and the
    document scan prunes to the two referenced columns."""
    from bitfilters_spark.operators.text import chunk_documents

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(chunk_documents(docs, "doc_id", "text", chunk_tokens=64))
    assert "Exchange" not in plan
    assert "ReadSchema" in plan and "lang" not in plan.split("ReadSchema")[1][:200]


def test_skew_report_finds_hot_key_and_plans_take_ordered(spark):
    from bitfilters_spark.plans.skew import skew_report

    rows = [(i, 999 if i % 2 == 0 else i) for i in range(10_000)]
    df = spark.createDataFrame(rows, "id long, k long")
    rep = skew_report(df, "k", top_k=5)
    assert rep["n_rows"] == 10_000
    assert rep["top"][0][0] == 999 and rep["top"][0][1] == 5_001
    assert abs(rep["max_share"] - 0.5) < 0.001
    assert rep["skew_factor"] > 1000  # one key holds half the rows
    # plan shape: per-partition top-k, no global sort of the counts
    counts = df.groupBy("k").agg(F.count(F.lit(1)).alias("__n"))
    plan = plan_of(counts.orderBy(F.col("__n").desc(), "k").limit(5))
    assert "TakeOrderedAndProject" in plan
    # empty input
    empty = spark.createDataFrame([], "id long, k long")
    assert skew_report(empty, "k")["n_rows"] == 0


def test_shuffle_report_counts_known_plans(spark):
    """The static audit must count the movement ops of plans whose shape
    is known: a map-side filter has zero exchanges, a groupBy has one
    (with its key named), and a broadcast join adds a broadcast, not an
    exchange."""
    from pyspark.sql import functions as F

    from bitfilters_spark.plans import shuffle_report

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    narrow = shuffle_report(orders.where(F.col("o_custkey") > 10).select("o_orderkey"))
    assert narrow["n_exchanges"] == 0 and narrow["n_broadcasts"] == 0

    agg = shuffle_report(orders.groupBy("o_custkey").count())
    assert agg["n_exchanges"] == 1
    assert any("o_custkey" in k for k in agg["exchange_keys"])

    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    bj = shuffle_report(
        orders.join(
            F.broadcast(cust), orders.o_custkey == cust.c_custkey
        )
    )
    assert bj["n_broadcasts"] >= 1
    assert bj["n_exchanges"] == 0

    # codegen spans surface once AQE has finalized the plan (post-action).
    # The suite session runs with whole-stage codegen OFF (wall-time:
    # see conftest); this assertion is ABOUT codegen spans, so pin the
    # conf on for just this query — it is runtime-settable and restored.
    old = spark.conf.get("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.wholeStage", "true")
    try:
        ran = orders.groupBy("o_custkey").count()
        ran.collect()
        assert shuffle_report(ran)["n_codegen_spans"] >= 1
    finally:
        spark.conf.set("spark.sql.codegen.wholeStage", old)


def test_join_plan_report_recommendations(spark):
    """The advisor must pick the strategy the data shape demands: small
    dim -> broadcast, hot key -> salted, disjoint keys -> bloom
    pre-filter note; est_join_rows upper-bounds (and at collision-free
    geometry equals) the true join size."""
    from pyspark.sql import functions as F

    from bitfilters_spark.plans import join_plan_report

    fact = spark.range(20_000).select(
        (F.col("id") % 500).alias("fk"), F.col("id").alias("payload")
    )
    dim = spark.range(500).select(F.col("id").alias("pk"))
    rep = join_plan_report(fact, dim, "fk", "pk", broadcast_threshold_rows=10_000)
    assert rep["recommendation"] == "broadcast_right"
    true_rows = fact.join(dim, fact.fk == dim.pk).count()
    # CMS inner product: deterministic UPPER bound, tight up to the few
    # birthday collisions 500 keys produce in 2^15 buckets
    assert true_rows <= rep["est_join_rows"] <= true_rows * 1.05
    assert rep["key_jaccard"] == 1.0  # dim keys == fact key set

    # hot key: one fk carries half the fact table
    hot = spark.range(40_000).select(
        F.when(F.col("id") % 2 == 0, 7).otherwise(F.col("id")).alias("fk"),
        F.col("id").alias("payload"),
    )
    big = spark.range(30_000).select(F.col("id").alias("pk"))
    rep2 = join_plan_report(
        hot, big, "fk", "pk", broadcast_threshold_rows=100, skew_factor_salt=100
    )
    assert rep2["recommendation"] == "salted"
    assert rep2["left"]["top_key"] == 7

    # disjoint key ranges: the bloom pre-filter advice must fire
    a = spark.range(50_000).select(F.col("id").alias("k"))
    b = spark.range(50_000).select((F.col("id") + 10_000_000).alias("k"))
    rep3 = join_plan_report(a, b, "k", "k", broadcast_threshold_rows=100)
    assert any("barely overlap" in r for r in rep3["reasons"])
    assert rep3["key_jaccard"] < 0.05


def test_remove_boilerplate_lines_plan_shape(spark):
    """The corpus shuffles exactly once (doc regroup); the hot-line set
    joins via broadcast; the df computation's shuffles carry only hashed
    long pairs — no corpus-width rows through the distinct aggregation."""
    from bitfilters_spark.operators.web import remove_boilerplate_lines

    df = spark.createDataFrame(
        [(i, f"unique line {i}\nshared banner") for i in range(20)],
        "doc_id long, text string",
    )
    out = remove_boilerplate_lines(df, "doc_id", "text", min_df=10)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan  # the hot set never shuffles the corpus
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            # every non-broadcast exchange hashes on doc_id and/or the
            # 8-byte line hash — never on the line text itself
            assert "__line" not in line, line


def test_drop_ledger_names_first_dropping_stage(spark):
    """Every input id gets the FIRST stage that dropped it (NULL =
    survived); composes from plain stage outputs with id-only joins."""
    from bitfilters_spark.plans.filter_join import drop_ledger

    original = spark.createDataFrame([(i,) for i in range(1, 7)], "doc_id long")
    mk = lambda ids: spark.createDataFrame([(i,) for i in ids], "doc_id long")
    ledger = drop_ledger(
        original,
        [("quality", mk([1, 2, 3, 4])), ("dedup", mk([1, 2])), ("decontam", mk([2]))],
        "doc_id",
    )
    got = {r["doc_id"]: r["dropped_at"] for r in ledger.collect()}
    assert got == {
        1: "decontam",
        2: None,
        3: "dedup",
        4: "dedup",
        5: "quality",
        6: "quality",
    }


def test_pca_moments_have_zero_exchange(spark):
    """`embedding_moments` must reduce each partition to one partial row
    inside mapInPandas and collect partials — NO Exchange anywhere: the
    corpus never shuffles for a PCA fit."""
    from bitfilters_spark.operators.similarity import embedding_moments

    emb = spark.createDataFrame(
        [(i, [float(i), float(i % 3)]) for i in range(100)],
        "vec_id long, embedding array<double>",
    ).repartition(5)
    # reproduce the plan the helper collects
    from pyspark.sql import functions as F
    import numpy as np, pandas as pd
    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, StructField, StructType,
    )
    # call through the public helper and assert via its source plan:
    # build the same mapInPandas frame it collects and explain it
    n, s, g = embedding_moments(emb, "embedding")
    assert n == 100
    # plan of the moment computation path: select + mapInPandas only
    def partials(batches):
        for pdf in batches:
            yield pd.DataFrame({"n": [len(pdf)]})
    schema = StructType([StructField("n", LongType())])
    plan = (
        emb.select("embedding").mapInPandas(partials, schema)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan.replace("Exchange RoundRobin", "X")  # repartition above is the fixture, not the operator


def test_fuzzy_join_strategies_plan_shape(spark):
    """Both blocking strategies must candidate-match via an equi-join —
    never BroadcastNestedLoopJoin / CartesianProduct on normal-length
    keys."""
    from bitfilters_spark.operators.fuzzy import fuzzy_join

    left = spark.createDataFrame(
        [(i, f"customer name {i:05d}") for i in range(40)],
        "left_id long, name string",
    )
    right = spark.createDataFrame(
        [(i, f"customer name {i:05d}x") for i in range(40)],
        "right_id long, name string",
    )
    for s in ("segment", "deletion"):
        plan = (
            fuzzy_join(left, right, "name", "name", 1, strategy=s)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert any(j in plan for j in
                   ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")), s
        if s == "deletion":
            # single candidate join, no fallback branches at all
            assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_classifier_scoring_is_broadcast_join(spark):
    """`classifier_score` must broadcast the (model-scale) weight table —
    the corpus side aggregates without a join-side shuffle of features
    against weights."""
    import numpy as np
    from bitfilters_spark.operators.classifier import classifier_score

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma") for i in range(50)], "doc_id long, text string"
    )
    w = np.zeros(64); w[3] = 1.0
    model = {"weights": w, "bias": 0.1, "n_buckets": 64}
    plan = (
        classifier_score(docs, "doc_id", "text", model)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_rebalance_scan_widens_starved_input_only(spark, tmp_path):
    """r8: rebalance_scan repartitions a row-group-starved scan to full
    parallelism and is an exact no-op (same plan object) on inputs that
    are already wide enough."""
    from bitfilters_spark.sources import rebalance_scan

    p = str(tmp_path / "one_file")
    spark.range(1000).coalesce(1).write.parquet(p)
    narrow = spark.read.parquet(p)
    wide = rebalance_scan(narrow)
    assert wide.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert wide.count() == 1000

    already = spark.range(1000).repartition(
        spark.sparkContext.defaultParallelism
    )
    assert rebalance_scan(already) is already


def test_dsir_stats_per_doc_pass_is_map_only(spark):
    """dsir_feature_stats (parity): the per-doc output plan must contain
    NO Exchange and no join — the leaning mask broadcasts and the counts
    come from mapInPandas over the feature projection; the only wide op
    in the whole operator is the n_buckets histogram aggregation, which
    runs during construction."""
    from bitfilters_spark.operators.dsir import dsir_feature_stats

    docs = spark.createDataFrame(
        [(i, f"w{i % 7} w{i % 3} tail{i}") for i in range(300)],
        "doc_id long, text string",
    ).repartition(4)
    out = dsir_feature_stats(
        docs, F.col("doc_id") % 5 == 0, n_buckets=64, parity=True
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan
    assert "Join" not in plan
    assert "MapInPandas" in plan


def test_reservoir_prefiltered_plan_has_no_corpus_window_sort(spark):
    """The pre-filtered reservoir's output plan: the window runs AFTER
    the threshold filter (candidates only). The filter must sit directly
    on the scan side below the window sort."""
    from bitfilters_spark.operators.sampling import reservoir_sample_prefiltered

    df = spark.createDataFrame(
        [(i, f"k{i % 3}") for i in range(5000)], "id long, key string"
    )
    sc_ = (F.col("id") * F.lit(2654435761)) % F.lit(1 << 32)
    out = reservoir_sample_prefiltered(
        df, "key", 5, "id", order_by=sc_, order_max=1 << 32
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the candidate Filter (order < threshold CASE) appears below Window
    w = plan.index("Window")
    assert "Filter" in plan[w:], "threshold filter must precede the window sort"
    assert plan[w:].index("Filter") > 0


def test_pq_topk_never_shuffles_codes_before_local_topk(spark):
    """pq_topk: the codes side feeds mapInArrow directly (broadcast
    LUTs, per-batch top-k); the only Exchange is the final
    per-query rank over #queries x k x #batches candidate rows."""
    from bitfilters_spark.operators.similarity import (
        pq_encode, pq_topk, train_pq,
    )
    import numpy as np

    rng = np.random.default_rng(3)
    rows = [(i, rng.standard_normal(8).tolist()) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    model = train_pq(df, m=4, n_codes=16, seed=1)
    codes = pq_encode(df, model=model).repartition(4)
    out = pq_topk(codes, df.limit(3), model, k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    before_window = plan.split("Window")[-1]  # below the rank window
    # below the window: mapInArrow over codes, no hash Exchange other
    # than the window's own requirement above it
    assert "MapInArrow" in before_window
    assert before_window.count("Exchange hashpartitioning") <= 1


def _topk_below_window(out):
    """The per-batch top-k (a MapInArrow) sits below the rank window's
    single hash Exchange."""
    plan = out._jdf.queryExecution().executedPlan().toString()
    below = plan.split("Window [")[-1]  # not WindowGroupLimit
    assert below.count("Exchange hashpartitioning") == 1, plan
    assert below.index("Exchange hashpartitioning") < below.index("MapInArrow"), plan


def test_ivf_topk_and_ann_probe_topk_below_the_window(spark, tmp_path):
    """ivf_topk and AnnProbe.query run one candidate/score/rank path:
    the broadcast probe join feeds the Arrow scorer, whose per-batch
    top-k is the only input to the window's one hash Exchange."""
    import numpy as np

    from bitfilters_spark.operators.ann_index import AnnProbe, build_ann_index
    from bitfilters_spark.operators.similarity import ivf_topk

    rng = np.random.default_rng(4)
    rows = [(i, rng.standard_normal(8).tolist()) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.where(F.col("vec_id") < 3)
    C = build_ann_index(
        df, "vec_id", "embedding", "plan_annix", n_centroids=4,
        num_buckets=2, path=str(tmp_path / "plan_annix"),
    )
    _topk_below_window(ivf_topk(df, q, k=5, nprobe=2, centroids=C))
    _topk_below_window(AnnProbe(spark, "plan_annix").query(q, k=5, nprobe=2))
