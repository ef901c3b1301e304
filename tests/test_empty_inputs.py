"""Empty-input hardening: every operator must return an empty (or
identity) result on empty input, never crash — the classic first-day
production failure (empty partition, empty group, no matches)."""

import pytest
from pyspark.sql import functions as F

from bitfilters_spark.functions import build_filter, probe_filter
from bitfilters_spark.functions.filters import (
    cms_estimate,
    filter_contains,
    kmv_distinct,
    merge_filters,
)
from bitfilters_spark.functions.hashing import spark_hash64


@pytest.fixture()
def empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, text string")


@pytest.fixture()
def empty_keyed(spark):
    return spark.createDataFrame([], "grp long, h long")


@pytest.mark.parametrize("kind,kw", [
    ("bloom", {"n": 100, "fpp": 0.01}),
    ("duckdb_bloom", {"num_sectors": 64}),
    ("quotient", {"q": 8, "r": 4}),
    ("cms", {"d": 2, "w": 64}),
    ("kmv", {"k": 16}),
    ("xor8", {}),
    ("fuse16", {}),
])
def test_build_filter_empty_input(spark, empty_keyed, kind, kw):
    assert build_filter(empty_keyed, ["grp"], "h", kind, **kw).count() == 0


def test_probe_against_empty_filter_map(spark, empty_keyed):
    filters = build_filter(empty_keyed, ["grp"], "h", "bloom", n=100, fpp=0.01)
    data = spark.createDataFrame([(0, 1), (1, 2)], "grp long, h long")
    probed = probe_filter(data, filters, "h", on=["grp"])
    # no filter for the group -> probe False, never crash
    assert probed.where(F.col("__contains")).count() == 0


def test_merge_filters_empty(spark, empty_keyed):
    fine = build_filter(empty_keyed, ["grp"], "h", "bloom", n=100, fpp=0.01)
    assert merge_filters(fine, []).collect()[0]["filter"] is None


def test_clustering_empty_pairs(spark):
    from bitfilters_spark.operators.clustering import connected_components, dedup_near

    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(pairs).count() == 0
    assert connected_components(pairs, driver_max_edges=0).count() == 0
    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    assert dedup_near(docs, pairs, "doc_id").count() == 1


def test_dedup_pair_ops_empty_corpus(spark, empty_docs):
    from bitfilters_spark.operators import dedup as D

    assert D.shingle_jaccard_pairs(empty_docs, "doc_id", "text", df_cap=8).count() == 0
    assert D.minhash_lsh_pairs(empty_docs, "doc_id", "text").count() == 0
    assert D.simhash64(empty_docs, "doc_id", "text", native=False).count() == 0
    assert D.simhash_near_pairs(empty_docs, "doc_id", "text").count() == 0


def test_text_ops_empty_corpus(spark, empty_docs):
    from bitfilters_spark.operators import text as T

    assert T.quality_metrics(empty_docs, "text").count() == 0
    assert T.repetition_metrics(empty_docs, "doc_id", "text").count() == 0
    assert T.tfidf(empty_docs, "doc_id", "text").count() == 0


def test_timeseries_empty(spark):
    from bitfilters_spark.operators.timeseries import asof_join, range_join, sessionize

    ev = spark.createDataFrame([], "event_id long, user_id long, ts timestamp")
    assert sessionize(ev, "user_id").count() == 0
    right = spark.createDataFrame([], "user_id long, ts timestamp, v double")
    left = spark.createDataFrame(
        [(1, 1, __import__("datetime").datetime(2024, 1, 1))],
        "event_id long, user_id long, ts timestamp",
    )
    out = asof_join(left, right, ["user_id"], ["v"]).collect()
    assert len(out) == 1 and out[0]["v"] is None
    pts = spark.createDataFrame([], "pid long, v double")
    iv = spark.createDataFrame([(1, 0.0, 1.0)], "iid long, lo double, hi double")
    assert range_join(pts, iv, "v").count() == 0


def test_skipping_empty_wanted_set(spark, tmp_path):
    from bitfilters_spark.sources.skipping import (
        build_file_index,
        key_hashes,
        prune_files,
    )

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    dest = str(tmp_path / "o")
    orders.repartition(2).write.parquet(dest)
    idx = build_file_index(spark, dest, ["o_custkey"], "bloom", n=5000, fpp=0.01)
    import numpy as np

    assert prune_files(idx, np.array([], dtype=np.uint64)) == []


def test_cms_kmv_estimates_on_empty_build(spark, empty_keyed):
    # global build over zero rows yields one group row only when grouped by
    # a dummy — with real group cols there are zero rows, so estimates are
    # simply absent; this must not crash
    cms = build_filter(empty_keyed, ["grp"], "h", "cms", d=2, w=64)
    assert cms.select(cms_estimate("filter", F.lit(1))).count() == 0
    kmv = build_filter(empty_keyed, ["grp"], "h", "kmv", k=8)
    assert kmv.select(kmv_distinct("filter")).count() == 0


def test_ngram_contamination_hashed_matches_raw(spark):
    from bitfilters_spark.operators.text import ngram_contamination

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "x y z w v u t s"),
            (3, "a b c d e q r s"),
            (4, "too short"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "a b c d e f g h i j")], "doc_id long, text string"
    )
    raw = {
        r["doc_id"]: (r["n_grams"], r["n_hit"])
        for r in ngram_contamination(docs, bench, n=5, hashed=False).collect()
    }
    hashed = {
        r["doc_id"]: (r["n_grams"], r["n_hit"])
        for r in ngram_contamination(docs, bench, n=5, hashed=True).collect()
    }
    assert raw == hashed
    # doc 1: all 4 of its 5-grams appear in the benchmark; doc 2: none;
    # doc 3: only "a b c d e"; doc 4 (<5 tokens): no rows
    assert raw == {1: (4, 4), 2: (4, 0), 3: (4, 1)}


def test_round5_ops_empty_corpus(spark, empty_docs):
    from bitfilters_spark.operators.dedup import (
        corpus_checksum,
        dedup_paragraphs,
        snapshot_diff,
    )
    from bitfilters_spark.operators.sampling import (
        cap_per_group,
        weighted_hash_sample,
    )
    from bitfilters_spark.operators.substring import (
        dup_token_coverage,
        duplicated_spans,
        remove_duplicated_spans,
    )
    from bitfilters_spark.operators.text import (
        chunk_documents,
        compression_signal,
        gopher_rules,
    )

    assert duplicated_spans(empty_docs, "doc_id", "text").count() == 0
    assert dup_token_coverage(empty_docs, "doc_id", "text").count() == 0
    assert remove_duplicated_spans(empty_docs, "doc_id", "text").count() == 0
    assert dedup_paragraphs(empty_docs, "doc_id", "text").count() == 0
    assert chunk_documents(empty_docs, "doc_id", "text", 8).count() == 0
    assert gopher_rules(empty_docs).count() == 0
    assert compression_signal(empty_docs, "doc_id").count() == 0
    assert corpus_checksum(empty_docs, [], ["doc_id", "text"]).count() == 0
    docs2 = empty_docs.withColumn("w", F.lit(0.5)).withColumn(
        "src", F.lit("a")
    )
    assert weighted_hash_sample(docs2, "doc_id", "w").count() == 0
    assert cap_per_group(docs2, "doc_id", "src", 3).count() == 0
    assert snapshot_diff(empty_docs, empty_docs, "doc_id", "text").count() == 0


def test_round5_sketch_and_sample_empty(spark, empty_keyed):
    from bitfilters_spark.core.bksample import bks_build, bks_quantile
    from bitfilters_spark.functions.sample import bottomk_sample

    import numpy as np

    blob = bks_build(np.array([], dtype=np.uint64), np.array([], dtype=np.int64), 8)
    assert bks_quantile(blob, 0.5) is None
    keyed = empty_keyed.withColumn("v", F.lit(0).cast("long"))
    assert bottomk_sample(keyed, ["grp"], "h", "v", k=8).count() == 0


def test_round5_semdedup_empty_pairs(spark):
    """A corpus with no >= threshold pair keeps every row."""
    from bitfilters_spark.operators.similarity import semantic_dedup

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assert semantic_dedup(df, threshold=0.9, n_centroids=2).count() == 3


def test_new_sketches_empty_input(spark, empty_keyed):
    from bitfilters_spark.functions import heavy_hitters
    from bitfilters_spark.functions.filters import hll_distinct, mg_estimate

    for kind, kw in [("hll", {"p": 8}), ("mg", {"k": 16})]:
        # no rows -> no groups -> no sketch rows (matches the family)
        assert build_filter(empty_keyed, ["grp"], "h", kind, **kw).count() == 0
        assert build_filter(empty_keyed, [], "h", kind, **kw).count() == 0
    # probes over an empty FILTER TABLE (not null blobs) stay empty
    one = spark.createDataFrame([(0, 7)], "grp long, h long")
    g_hll = build_filter(one, [], "h", "hll", p=8)
    assert g_hll.select(hll_distinct("filter").alias("e")).collect()[0]["e"] == 1
    g_mg = build_filter(one, [], "h", "mg", k=16)
    assert heavy_hitters(g_mg).count() == 1
    miss = g_mg.withColumn("c", mg_estimate("filter", F.lit(12345).cast("long")))
    assert miss.collect()[0]["c"] == 0


def test_lsh_index_empty_probe_side(spark, empty_docs, tmp_path):
    from bitfilters_spark.operators.neardup_index import (
        build_lsh_index,
        dedup_against_index,
        probe_lsh_index,
    )

    ref = spark.createDataFrame(
        [(1, "some reference document text for the empty probe test case")],
        "doc_id long, text string",
    )
    for t in ("emptyix_bands", "emptyix_shingles"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    build_lsh_index(ref, "doc_id", "text", "emptyix", num_buckets=2,
                    path=str(tmp_path / "emptyix"))
    assert probe_lsh_index(spark, empty_docs, "doc_id", "text", "emptyix").count() == 0
    assert dedup_against_index(spark, empty_docs, "doc_id", "text", "emptyix").count() == 0


def test_lm_score_empty_sides(spark, empty_docs):
    from bitfilters_spark.operators.text import lm_score, train_ngram_lm

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    lm_empty = train_ngram_lm(empty_docs, "text")
    assert lm_empty["n_tokens"] == 0
    # scoring with an empty model: every bigram hits the OOV floor
    out = lm_score(docs, "doc_id", "text", lm_empty).collect()
    assert len(out) == 1 and out[0]["n_scored"] == 2
    # empty corpus scored with a real model: no rows
    lm = train_ngram_lm(docs, "text")
    assert lm_score(empty_docs, "doc_id", "text", lm).count() == 0


def test_round6_operators_empty_input(spark, empty_docs):
    """remove_boilerplate_lines / langid_table / build_vocabulary /
    resolve_url_domain / bf_build on empty frames: empty results, no
    crash."""
    from bitfilters_spark.operators.text import build_vocabulary, langid_table
    from bitfilters_spark.operators.web import (
        remove_boilerplate_lines,
        resolve_url_domain,
    )

    assert remove_boilerplate_lines(empty_docs, "doc_id", "text", 2).count() == 0
    out = langid_table(empty_docs, "doc_id", "text")
    assert out.count() == 0 and "lang" in out.columns
    assert build_vocabulary(empty_docs, "text", top_k=5).count() == 0
    empty_urls = spark.createDataFrame([], "id long, u string")
    sfx = spark.createDataFrame([("com",)], "suffix string")
    assert resolve_url_domain(empty_urls, "u", sfx).count() == 0
    # empty suffix table: heuristic-free fallback still works
    no_sfx = spark.createDataFrame([], "suffix string")
    got = resolve_url_domain(
        spark.createDataFrame([(1, "https://a.example.com/x")], "id long, u string"),
        "u",
        no_sfx,
    ).collect()
    assert got[0]["domain"] == "example.com"


def test_bf_build_empty_group(spark):
    from bitfilters_spark.sql import bf_build, register_sql_functions

    register_sql_functions(spark)
    spark.createDataFrame([], "k long").createOrReplaceTempView("bfb_empty")
    out = bf_build(spark, "bfb_empty", ["k % 2 AS g"], "bloom", "xxhash64(k)", n=10, fpp=0.5)
    assert out.count() == 0


def test_probe_cms_matches_column_probe(spark):
    """Broadcast-closure CMS probe == column-based cms_estimate on the
    same sketch (including empty probe side), and the multi-row guard
    raises."""
    import pytest
    from pyspark.sql import functions as F

    from bitfilters_spark.functions.filters import cms_estimate, probe_cms

    rows = [(i % 7,) for i in range(200)]
    df = spark.createDataFrame(rows, "k long").select(
        "k", F.xxhash64("k").alias("h")
    )
    sketch = build_filter(df, [], "h", "cms", d=4, w=64)
    want = {
        r["k"]: r["est"]
        for r in df.distinct()
        .crossJoin(F.broadcast(sketch))
        .select("k", cms_estimate("filter", "h").alias("est"))
        .collect()
    }
    got = {
        r["k"]: r["est"]
        for r in probe_cms(df.distinct(), sketch, "h", result_col="est").collect()
    }
    assert got == want and len(got) == 7
    empty = spark.createDataFrame([], "k long, h long")
    assert probe_cms(empty, sketch, "h").count() == 0
    two = build_filter(df, ["k"], "h", "cms", d=2, w=32)
    with pytest.raises(ValueError, match="one global sketch"):
        probe_cms(df, two, "h")


# ----------------------------------------------------------- r7 operators ---


def test_fuzzy_join_empty_sides(spark, empty_docs):
    from bitfilters_spark.operators.fuzzy import fuzzy_dedup, fuzzy_join

    e = empty_docs.withColumnRenamed("text", "name")
    full = spark.createDataFrame([(1, "abc")], "doc_id long, name string")
    assert fuzzy_join(e, full, "name", "name", 2, "doc_id", "doc_id").count() == 0
    assert fuzzy_join(full, e, "name", "name", 2, "doc_id", "doc_id").count() == 0
    assert fuzzy_dedup(e, "doc_id", "name", 1).count() == 0


def test_bpe_empty_corpus(spark, empty_docs):
    from bitfilters_spark.operators.bpe import bpe_encode, train_bpe

    model = train_bpe(empty_docs, "text", num_merges=10)
    assert model["merges"] == [] and model["vocab"] == {}
    assert bpe_encode(empty_docs, "doc_id", "text", model).count() == 0
    # a trained model encoding an empty frame is also fine
    full = spark.createDataFrame([(1, "ab ab")], "doc_id long, text string")
    m2 = train_bpe(full, "text", num_merges=5, min_pair_count=1)
    assert bpe_encode(empty_docs, "doc_id", "text", m2).count() == 0


def test_classifier_empty_inputs(spark, empty_docs):
    from bitfilters_spark.operators.classifier import (
        classifier_score, train_text_classifier,
    )

    labeled = empty_docs.withColumn("label", F.lit(0))
    with pytest.raises(ValueError, match="empty training set"):
        train_text_classifier(labeled, "doc_id", "text", "label", n_buckets=16)
    full = spark.createDataFrame(
        [(1, "a b", 1), (2, "c d", 0)], "doc_id long, text string, label int"
    )
    model = train_text_classifier(full, "doc_id", "text", "label",
                                  n_buckets=16, iters=2, lr=1.0)
    assert classifier_score(empty_docs, "doc_id", "text", model).count() == 0


def test_pca_empty_raises_and_projection_empty_ok(spark):
    import numpy as np
    from bitfilters_spark.operators.similarity import fit_pca, project_embeddings

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="empty input"):
        fit_pca(empty, "embedding", 2)
    model = {"mean": np.zeros(3), "components": np.eye(3)[:2],
             "explained_variance": np.ones(2), "total_variance": 3.0}
    assert project_embeddings(empty, "vec_id", "embedding", model).count() == 0


def test_sentence_and_mojibake_empty(spark, empty_docs):
    from bitfilters_spark.operators.text import dedup_sentences, pii_scan
    from bitfilters_spark.operators.web import fix_mojibake, fix_mojibake_exact

    assert dedup_sentences(empty_docs, "doc_id", "text").count() == 0
    out = empty_docs.select(
        fix_mojibake("text").alias("a"),
        fix_mojibake_exact("text").alias("b"),
        fix_mojibake("text", gated=True).alias("c"),
        *pii_scan("text"),
    )
    assert out.count() == 0


def test_leakage_split_and_curriculum_empty(spark, empty_docs):
    from bitfilters_spark.operators.sampling import (
        curriculum_order, leakage_safe_split, temperature_mixture_sample,
    )

    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert leakage_safe_split(
        empty_docs, "doc_id", pairs, {"train": 1, "test": 1}
    ).count() == 0
    scored = empty_docs.withColumn("difficulty", F.lit(0.0))
    assert curriculum_order(scored, "doc_id", "difficulty", 3).count() == 0
    src = empty_docs.withColumn("source", F.lit("s"))
    assert temperature_mixture_sample(src, "doc_id", "source", 0.5).count() == 0


def test_stats_index_empty_dir_aggregate(spark, tmp_path):
    from bitfilters_spark.sources.skipping import (
        aggregate_from_index, build_stats_index,
    )

    dest = str(tmp_path / "empty")
    spark.createDataFrame([], "id long, v double").write.parquet(dest)
    idx = build_stats_index(spark, dest, ["v"])
    # zero data files with rows -> empty index -> NULL/0 aggregates
    row = aggregate_from_index(idx, ["v"]).collect()[0]
    assert (row["n_rows"] or 0) == 0


def test_r8_operators_empty_inputs(spark, empty_docs):
    """c4 rules, reservoir (both forms), DSIR trio, fertility report,
    and PQ search all yield empty/sane results on empty input instead
    of raising."""
    import numpy as np
    from pyspark.sql import functions as F
    from bitfilters_spark.operators.bpe import tokenizer_fertility_report
    from bitfilters_spark.operators.dsir import (
        dsir_feature_stats, dsir_select, dsir_weights, fit_dsir,
    )
    from bitfilters_spark.operators.sampling import (
        reservoir_sample, reservoir_sample_prefiltered,
    )
    from bitfilters_spark.operators.similarity import pq_encode, pq_topk
    from bitfilters_spark.operators.text import c4_rules

    assert c4_rules(empty_docs, "text").count() == 0

    e2 = empty_docs.withColumn("key", F.lit("k"))
    assert reservoir_sample(e2, "key", 3, "doc_id").count() == 0
    sc = (F.col("doc_id") * F.lit(2654435761)) % F.lit(1 << 32)
    assert reservoir_sample_prefiltered(
        e2, "key", 3, "doc_id", order_by=sc, order_max=1 << 32
    ).count() == 0

    tgt = spark.createDataFrame([(1, "aa bb")], "doc_id long, text string")
    model = fit_dsir(empty_docs, tgt, n_buckets=32)
    assert model.count() == 32  # smoothed table covers every bucket
    assert dsir_weights(empty_docs, model, n_buckets=32).count() == 0
    assert dsir_select(empty_docs, model, 5, n_buckets=32).count() == 0
    stats = dsir_feature_stats(
        empty_docs, F.col("doc_id") % 2 == 0, n_buckets=32, parity=True
    )
    assert stats.count() == 0

    bpe_model = {"merges": [("a", "b")], "vocab": {"a": 0, "b": 1, "ab": 2}}
    e3 = empty_docs.withColumn("source", F.lit("s"))
    assert tokenizer_fertility_report(e3, bpe_model, "source").count() == 0

    pq = {
        "codebooks": np.zeros((2, 4, 2)), "m": 2, "d": 4,
    }
    empty_vecs = spark.createDataFrame(
        [], "vec_id long, embedding array<double>"
    )
    codes = pq_encode(empty_vecs, model=pq)
    assert codes.count() == 0
    q = spark.createDataFrame(
        [(1, [0.1, 0.2, 0.3, 0.4])], "vec_id long, embedding array<double>"
    )
    assert pq_topk(codes, q, pq, k=3).count() == 0


def test_topk_empty_query_batch(spark):
    """An empty query batch yields no rows from every broadcast-query
    top-k, as it does from the persisted-index probes."""
    import numpy as np
    from bitfilters_spark.operators.similarity import (
        cosine_topk, ivf_topk, pq_encode, pq_topk,
    )

    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5, 0.0]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    empty_q = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert cosine_topk(corpus, empty_q, k=3).count() == 0
    assert ivf_topk(corpus, empty_q, k=3, n_centroids=2, nprobe=2).count() == 0
    pq = {"codebooks": np.zeros((2, 4, 2)), "m": 2, "d": 4}
    assert pq_topk(pq_encode(corpus, model=pq), empty_q, pq, k=3).count() == 0


def test_r9_operators_empty_inputs(spark, empty_docs):
    """Ribbon build/probe, BM25, frontier scheduling, audio decode, and
    the HF import on empty/degenerate inputs."""
    import numpy as np

    from bitfilters_spark.core.ribbon import ribbon_build, ribbon_probe
    from bitfilters_spark.operators.text import bm25_scores
    from bitfilters_spark.operators.web import url_frontier_schedule

    # ribbon: empty key set builds a minimal valid blob; nothing matches
    blob = ribbon_build(np.array([], dtype=np.uint64), 8)
    assert not ribbon_probe(blob, np.arange(10, dtype=np.uint64)).any()
    # spark-side empty grouped build yields zero filter rows
    empty_keyed = spark.createDataFrame([], "grp long, h long")
    assert build_filter(empty_keyed, ["grp"], "h", "ribbon8").count() == 0

    # BM25: empty corpus (stats come from a collect — must not divide by
    # zero), and empty query set -> zero rows either way
    queries = spark.createDataFrame(
        [(1, "apple banana")], "query_id long, query string"
    )
    assert bm25_scores(empty_docs.withColumnRenamed("text", "text"),
                       queries, "doc_id").count() == 0
    docs = spark.createDataFrame([(1, "apple pie")], "doc_id long, text string")
    empty_q = spark.createDataFrame([], "query_id long, query string")
    assert bm25_scores(docs, empty_q, "doc_id").count() == 0

    # frontier: empty frontier schedules nothing
    empty_urls = spark.createDataFrame([], "url string, score double")
    assert url_frontier_schedule(
        empty_urls, "url", priority_col="score", n_fetchers=4
    ).count() == 0


def test_r9_audio_and_hf_degenerate_inputs(spark, tmp_path):
    import numpy as np

    from bitfilters_spark.operators.bpe import load_hf_tokenizer_json
    from bitfilters_spark.operators.multimodal import (
        decode_audio_pcm,
        sample_audio_windows,
    )

    # zero-byte payload: stub decode yields no samples, no windows emitted
    assert len(decode_audio_pcm(b"", codec="stub")) == 0
    df = spark.createDataFrame([(1, b""), (2, None)], "doc_id long, payload binary")
    assert sample_audio_windows(df, codec="stub").count() == 0
    # truncated/invalid RIFF under codec='wav' raises, not garbage
    import pytest as _pytest

    with _pytest.raises(Exception):
        decode_audio_pcm(b"RIFF0000WAVE", codec="wav")

    # tokenizer.json with no merges/vocab loads to an empty model
    import json

    p = tmp_path / "tok.json"
    p.write_text(json.dumps({"model": {"type": "BPE", "vocab": {}, "merges": []}}))
    m = load_hf_tokenizer_json(str(p), spark)
    assert m == {"merges": [], "vocab": {}}


def test_r10_new_operators_degenerate_inputs(spark, tmp_path):
    """Empty/degenerate inputs for the r10 operators: pagerank on an
    empty edge list, robots with empty/None payloads, sitemap with no
    blocks, ANN index build over an empty corpus slice probing empty."""
    from bitfilters_spark.operators.graph import pagerank
    from bitfilters_spark.operators.web import (
        apply_robots,
        robots_rules,
        sitemap_urls,
    )

    empty_edges = spark.createDataFrame([], "src long, dst long")
    assert pagerank(empty_edges, "src", "dst", iters=2).count() == 0

    robots = spark.createDataFrame(
        [("a.com", None), ("b.com", ""), ("c.com", "User-agent: *")],
        "host string, robots_txt string",
    )
    rules = robots_rules(robots)
    assert rules.count() == 0  # no rules anywhere: all hosts open
    urls = spark.createDataFrame(
        [("http://a.com/x", "a.com")], "url string, host string"
    )
    verdict = apply_robots(urls, rules).collect()
    assert len(verdict) == 1 and verdict[0]["robots_allowed"] is True

    sm = spark.createDataFrame(
        [("h", ""), ("h", None), ("h", "<urlset><url><loc></loc></url></urlset>")],
        "host string, sitemap_xml string",
    )
    assert sitemap_urls(sm, carry_cols=("host",)).count() == 0

    from bitfilters_spark.operators.classifier import train_langid_classifier

    one_class = spark.createDataFrame(
        [(0, "hello world", "en")], "doc_id long, text string, lang string"
    )
    m = train_langid_classifier(
        one_class, "doc_id", "text", "lang", n_buckets=64, iters=1, lr=1.0
    )
    assert m["classes"] == ["en"]


def test_r11_tail_operators_empty_inputs(spark, tmp_path):
    """Degenerate-input hardening for the late-r11 operators: empty
    corpora/phrase sets/edge lists/host tables must yield empty typed
    results or usable degenerate models, never crash."""
    from bitfilters_spark.operators.chat import (
        assistant_token_spans,
        chat_stats,
        dedup_conversations,
        render_chat,
    )
    from bitfilters_spark.operators.graph import hits
    from bitfilters_spark.operators.lm import kn3_score, train_kn3_lm
    from bitfilters_spark.operators.phrase_index import (
        build_phrase_index,
        phrase_contains,
        phrase_search,
    )
    from bitfilters_spark.operators.sampling import allocate_weighted_budget
    from bitfilters_spark.operators.web import (
        anchor_text_corpus,
        resolve_redirect_chains,
    )

    empty_docs = spark.createDataFrame([], "doc_id long, text string")

    # trigram KN on an empty corpus: floor-only model, scorable
    lm3 = train_kn3_lm(empty_docs, "text")
    probe = spark.createDataFrame(
        [(1, "three token probe")], "doc_id long, text string"
    )
    assert kn3_score(probe, "doc_id", "text", lm3).count() == 1

    # phrase index over an empty corpus: builds, probes to nothing
    build_phrase_index(
        empty_docs, "doc_id", "text", "ph_empty", num_buckets=2,
        path=str(tmp_path / "phe"),
    )
    ph = spark.createDataFrame([(1, "any phrase")], "phrase_id long, phrase string")
    assert phrase_search(spark, "ph_empty", ph).count() == 0
    assert phrase_contains(empty_docs, "doc_id", "text", ph).count() == 0

    # redirect chains / anchor corpus / budgets on empty edge tables
    empty_edges = spark.createDataFrame(
        [], "src_url string, dst_url string, anchor string, "
        "src_host string, nofollow boolean"
    )
    assert resolve_redirect_chains(empty_edges).count() == 0
    assert anchor_text_corpus(empty_edges).count() == 0
    empty_hosts = spark.createDataFrame([], "key string, cap double, w double")
    assert allocate_weighted_budget(empty_hosts, "key", "cap", "w", 10.0).count() == 0

    # hits over an empty graph
    assert hits(
        spark.createDataFrame([], "src long, dst long"), "src", "dst", iters=1
    ).count() == 0

    # chat family over empty / degenerate conversations
    empty_convs = spark.createDataFrame(
        [], "conv_id long, messages array<struct<role string, content string>>"
    )
    assert render_chat(empty_convs).count() == 0
    assert assistant_token_spans(render_chat(empty_convs)).count() == 0
    assert chat_stats(empty_convs).count() == 0
    assert dedup_conversations(empty_convs, "conv_id").count() == 0
