"""Index compaction + rebuild safety (VERDICT r10 directive #3 and the
ADVICE staging-collision item): compact_{bm25,ann,lsh}_index collapse the
file-sets appends accumulate while leaving probes identical; external
(path=) rebuilds stage into ALTERNATING directories so a rebuild never
overwrites the live index's own data directory; probe handles match the
one-shot functions; probe-time driver collects fail fast past
max_queries; empty query batches return empty instead of crashing."""

import pytest
from pyspark.sql import functions as F


def _docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


def _emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def _queries(docs):
    return docs.where(F.col("doc_id").isin(0, 5, 10)).select(
        F.col("doc_id").alias("query_id"),
        F.substring_index("text", " ", 8).alias("query"),
    )


def test_compact_bm25_index(spark, tmp_path):
    """Build + two appends leave 3 file-sets and 3 stats partials;
    compaction collapses files and folds partials to one row each, with
    probe results identical before/after and geometry preserved."""
    from bitfilters_spark.operators.bm25_index import (
        append_to_bm25_index,
        bm25_query_index,
        build_bm25_index,
        compact_bm25_index,
    )

    docs = _docs(spark)
    a = docs.where(F.col("doc_id") % 3 == 0)
    b = docs.where(F.col("doc_id") % 3 == 1)
    c = docs.where(F.col("doc_id") % 3 == 2)
    p = str(tmp_path / "cbm")
    build_bm25_index(a, "doc_id", "text", "cbm25", num_buckets=4, path=p)
    append_to_bm25_index(b, "doc_id", "text", "cbm25", num_buckets=4)
    append_to_bm25_index(c, "doc_id", "text", "cbm25", num_buckets=4)
    assert spark.table("cbm25_stats").count() == 3  # one partial per fold

    q = _queries(docs)
    before = sorted(map(tuple, bm25_query_index(spark, "cbm25", q).collect()))
    rep = compact_bm25_index(spark, "cbm25", path=p)
    assert rep["files_after"] < rep["files_before"]
    assert rep["files_after"] <= 4  # one file per bucket
    assert spark.table("cbm25_stats").count() == 1  # partials folded
    assert spark.table("cbm25_vocab").groupBy("token").count().agg(
        F.max("count")
    ).collect()[0][0] == 1
    after = sorted(map(tuple, bm25_query_index(spark, "cbm25", q).collect()))
    assert after == before and len(after) > 0
    # geometry survived: a mismatched append still fails loudly
    with pytest.raises(ValueError, match="num_buckets"):
        append_to_bm25_index(b, "doc_id", "text", "cbm25", num_buckets=16)


def test_compact_ann_index(spark, tmp_path):
    """Same law for the IVF index: append micro-batches, compact, probe
    bit-identical, file count collapses toward the bucket count."""
    from bitfilters_spark.operators.ann_index import (
        ann_query_index,
        append_to_ann_index,
        build_ann_index,
        compact_ann_index,
        load_ann_centroids,
    )

    emb = _emb(spark)
    base = emb.where(F.col("vec_id") % 2 == 0)
    extra = emb.where(F.col("vec_id") % 2 == 1)
    p = str(tmp_path / "cann")
    C = build_ann_index(
        base, "vec_id", "embedding", "cann", n_centroids=8, num_buckets=4, path=p
    )
    append_to_ann_index(extra, "vec_id", "embedding", "cann", num_buckets=4)
    q = emb.where(F.col("vec_id") < 5)
    before = sorted(
        map(tuple, ann_query_index(spark, "cann", q, "vec_id", "embedding").collect())
    )
    rep = compact_ann_index(spark, "cann", path=p)
    assert rep["files_after"] < rep["files_before"]
    after = sorted(
        map(tuple, ann_query_index(spark, "cann", q, "vec_id", "embedding").collect())
    )
    assert after == before and len(after) > 0
    assert (load_ann_centroids(spark, "cann") == C).all()  # centroids untouched


def test_compact_lsh_index(spark, tmp_path):
    """LSH twin: append then compact; probe pairs identical; geometry
    (including the stamped k/bands) survives the rewrite."""
    from bitfilters_spark.operators.neardup_index import (
        append_to_lsh_index,
        build_lsh_index,
        compact_lsh_index,
        lsh_index_geometry,
        probe_lsh_index,
    )

    docs = _docs(spark).limit(120).cache()
    a = docs.where(F.col("doc_id") % 2 == 0)
    b = docs.where(F.col("doc_id") % 2 == 1)
    p = str(tmp_path / "clsh")
    build_lsh_index(a, "doc_id", "text", "clsh", k=16, bands=4, num_buckets=4, path=p)
    append_to_lsh_index(b, "doc_id", "text", "clsh", k=16, bands=4, num_buckets=4)
    geom_before = lsh_index_geometry(spark, "clsh")
    probe = docs.limit(30).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    before = sorted(
        map(
            tuple,
            probe_lsh_index(
                spark, probe, "doc_id", "text", "clsh", k=16, bands=4, threshold=0.5
            ).collect(),
        )
    )
    rep = compact_lsh_index(spark, "clsh", path=p)
    assert rep["files_after"] < rep["files_before"]
    assert lsh_index_geometry(spark, "clsh") == geom_before
    after = sorted(
        map(
            tuple,
            probe_lsh_index(
                spark, probe, "doc_id", "text", "clsh", k=16, bands=4, threshold=0.5
            ).collect(),
        )
    )
    assert after == before and len(after) > 0


def test_external_rebuild_alternates_staging_dirs(spark, tmp_path):
    """The ADVICE staging-collision fix: after the first external build,
    the live table POINTS AT the staged directory; a second build must
    stage somewhere ELSE (and still leave a fully probeable index). The
    two builds' live locations must differ."""
    from bitfilters_spark.operators.bm25_index import (
        bm25_query_index,
        build_bm25_index,
    )
    from bitfilters_spark.sources.index_store import (
        live_location as _live_location,
    )

    docs = _docs(spark)
    p = str(tmp_path / "alt")
    q = _queries(docs)
    build_bm25_index(docs, "doc_id", "text", "altix", num_buckets=4, path=p)
    loc1 = _live_location(spark, "altix_postings")
    r1 = sorted(map(tuple, bm25_query_index(spark, "altix", q).collect()))
    build_bm25_index(docs, "doc_id", "text", "altix", num_buckets=4, path=p)
    loc2 = _live_location(spark, "altix_postings")
    assert loc1 and loc2 and loc1 != loc2  # never staged onto the live dir
    r2 = sorted(map(tuple, bm25_query_index(spark, "altix", q).collect()))
    assert r1 == r2 and len(r2) > 0
    # third build flips back to the first directory — bounded at two dirs
    build_bm25_index(docs, "doc_id", "text", "altix", num_buckets=4, path=p)
    assert _live_location(spark, "altix_postings") == loc1


def test_probe_handles_and_guards(spark, tmp_path):
    """BM25Probe/AnnProbe return exactly the one-shot functions' rows;
    an empty ANN query batch returns an empty (query_id, rank,
    neighbor_id) frame; max_queries turns an over-large driver collect
    into a ValueError."""
    from bitfilters_spark.operators.ann_index import (
        AnnProbe,
        ann_query_index,
        build_ann_index,
    )
    from bitfilters_spark.operators.bm25_index import (
        BM25Probe,
        bm25_query_index,
        build_bm25_index,
    )

    docs, emb = _docs(spark), _emb(spark)
    q = _queries(docs)
    build_bm25_index(
        docs, "doc_id", "text", "hdl25", num_buckets=4,
        path=str(tmp_path / "hdl25"),
    )
    h = BM25Probe(spark, "hdl25")
    assert sorted(map(tuple, h.query(q).collect())) == sorted(
        map(tuple, bm25_query_index(spark, "hdl25", q).collect())
    )
    with pytest.raises(ValueError, match="max_queries"):
        h.query(q, max_queries=2)

    build_ann_index(
        emb, "vec_id", "embedding", "hdlann", n_centroids=8, num_buckets=4,
        path=str(tmp_path / "hdlann"),
    )
    qv = emb.where(F.col("vec_id") < 5)
    ha = AnnProbe(spark, "hdlann")
    assert sorted(
        map(tuple, ha.query(qv, "vec_id", "embedding").collect())
    ) == sorted(
        map(
            tuple,
            ann_query_index(spark, "hdlann", qv, "vec_id", "embedding").collect(),
        )
    )
    empty = ha.query(qv.where(F.lit(False)), "vec_id", "embedding")
    assert empty.columns == ["query_id", "rank", "neighbor_id"]
    assert empty.count() == 0
    with pytest.raises(ValueError, match="max_queries"):
        ha.query(qv, "vec_id", "embedding", max_queries=2)


def test_ann_index_report(spark, tmp_path):
    """Occupancy/drift report: fractions sum to 1 over all vectors,
    mean_sim is a valid cosine and >= min_sim, and every indexed vector
    is accounted for."""
    from bitfilters_spark.operators.ann_index import (
        ann_index_report,
        build_ann_index,
    )

    emb = _emb(spark)
    build_ann_index(
        emb, "vec_id", "embedding", "repann", n_centroids=8, num_buckets=4,
        path=str(tmp_path / "repann"),
    )
    rows = ann_index_report(spark, "repann").collect()
    n = emb.count()
    assert sum(r["n_vecs"] for r in rows) == n
    assert abs(sum(r["frac"] for r in rows) - 1.0) < 1e-9
    for r in rows:
        assert -1.0 - 1e-9 <= r["min_sim"] <= r["mean_sim"] <= 1.0 + 1e-9


def test_compact_two_lsh_indexes_one_external_path(spark, tmp_path):
    """Staging-namespace regression (r11 verdict finding 3, LSH site):
    compacting two LSH indexes that share one external path= must not
    alternate over shared `bands__stage_a/b` dirs — each index keeps its
    own namespaced staging pair, so compacting B never clobbers A's
    live files."""
    from bitfilters_spark.operators.neardup_index import (
        build_lsh_index,
        compact_lsh_index,
        probe_lsh_index,
    )

    docs = _docs(spark).limit(80).cache()
    shared = str(tmp_path / "sharedlsh")
    build_lsh_index(
        docs, "doc_id", "text", "lshco_a", k=16, bands=4, num_buckets=4,
        path=shared,
    )
    build_lsh_index(
        docs, "doc_id", "text", "lshco_b", k=16, bands=4, num_buckets=4,
        path=shared,
    )
    probe = docs.limit(20).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )

    def _probe(name):
        return sorted(
            map(
                tuple,
                probe_lsh_index(
                    spark, probe, "doc_id", "text", name,
                    k=16, bands=4, threshold=0.5,
                ).collect(),
            )
        )

    before_a = _probe("lshco_a")
    assert len(before_a) > 0
    # compact B twice (occupies both of its staging dirs), then A once
    compact_lsh_index(spark, "lshco_b", path=shared)
    compact_lsh_index(spark, "lshco_b", path=shared)
    compact_lsh_index(spark, "lshco_a", path=shared)
    assert _probe("lshco_a") == before_a
    assert _probe("lshco_b") == before_a  # same corpus, same answers
