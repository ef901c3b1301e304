"""Embedding similarity operators: distributed exact all-pairs (block
matmul — no driver collect, no full-corpus broadcast) and the approximate
LSH bucket path (random-hyperplane signatures, exact in-bucket verify)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from bitfilters_spark.operators.similarity import (
    cosine_neardup_pairs,
    cosine_topk,
    lsh_bucket_pairs,
)


def _corpus(spark, n=120, dim=32, n_pairs=12, seed=7):
    """Random unit-ish vectors plus planted near-duplicate pairs
    (cos > 0.99). Returns (df, set of planted (lo, hi) id pairs)."""
    rng = np.random.default_rng(seed)
    base = rng.standard_normal((n, dim))
    rows = [(i, base[i].tolist()) for i in range(n)]
    planted = set()
    for j in range(n_pairs):
        src = j * 3
        dup_id = n + j
        noisy = base[src] + 0.01 * rng.standard_normal(dim)
        rows.append((dup_id, noisy.tolist()))
        planted.add((src, dup_id))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return df, planted, np.array([r[1] for r in rows]), [r[0] for r in rows]


def _brute_pairs(mat, ids, threshold):
    m = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = m @ m.T
    out = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if sims[i, j] >= threshold:
                out.add((min(ids[i], ids[j]), max(ids[i], ids[j])))
    return out


def test_block_matmul_equals_brute_force(spark):
    df, _, mat, ids = _corpus(spark)
    got = {
        (r["id_a"], r["id_b"])
        for r in cosine_neardup_pairs(df, threshold=0.5, n_blocks=5).collect()
    }
    assert got == _brute_pairs(mat, ids, 0.5)


def test_block_matmul_no_collect_in_plan(spark):
    """The operator must build a plan lazily — constructing it triggers no
    Spark job (driver-collect designs run jobs at construction time)."""
    df, _, _, _ = _corpus(spark)
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    plan = cosine_neardup_pairs(df, threshold=0.5, n_blocks=4)
    after = tracker.getJobIdsForGroup(None)
    assert before == after, "building the pair plan ran a Spark job (collect?)"
    assert plan.columns == ["id_a", "id_b"]


def test_lsh_bucket_pairs_recall_and_precision(spark):
    df, planted, mat, ids = _corpus(spark)
    got = {
        (r["id_a"], r["id_b"])
        for r in lsh_bucket_pairs(
            df, threshold=0.9, n_planes=8, n_tables=16, seed=42
        ).collect()
    }
    # precision is exact by construction (in-bucket exact cosine verify)
    assert got <= _brute_pairs(mat, ids, 0.9)
    # planted near-identical pairs (cos > 0.99) must all be recalled:
    # miss probability per pair < (1 - 0.95^8)^16 ~ 1e-7
    assert planted <= got


def test_ivf_topk_full_probe_is_exact(spark):
    """nprobe == n_centroids scans every cell -> must equal exact top-k."""
    from bitfilters_spark.operators.similarity import ivf_topk

    df, _, mat, ids = _corpus(spark, n_pairs=0)
    queries = df.where(F.col("vec_id") < 4)
    exact = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in cosine_topk(df, queries, k=4).collect()
    }
    ivf = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ivf_topk(df, queries, k=4, n_centroids=8, nprobe=8).collect()
    }
    assert ivf == exact


def test_ivf_topk_partial_probe_recall(spark):
    from bitfilters_spark.operators.similarity import ivf_topk

    df, _, mat, ids = _corpus(spark, n_pairs=0)
    queries = df.where(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in cosine_topk(df, queries, k=3).collect()
    }
    ivf = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ivf_topk(df, queries, k=3, n_centroids=16, nprobe=8).collect()
    }
    hits = sum(1 for key, nid in exact.items() if ivf.get(key) == nid)
    assert hits / len(exact) >= 0.6, f"recall {hits}/{len(exact)}"


def test_cosine_topk_matches_brute(spark):
    df, _, mat, ids = _corpus(spark, n_pairs=0)
    queries = df.where(F.col("vec_id") < 3)
    got = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in cosine_topk(df, queries, k=3).collect()
    }
    m = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = m @ m.T
    idarr = np.array(ids)
    for q in range(3):
        order = sorted(
            [(-(sims[q, j]), idarr[j]) for j in range(len(ids)) if idarr[j] != q]
        )
        for rank in range(3):
            assert got[(q, rank + 1)] == order[rank][1]


def test_minhash_lsh_recall_vs_exact(spark):
    """MinHash-LSH pairs at j >= 0.5 must equal the exact shingle-Jaccard
    operator on the real corpus (16-band LSH miss probability at the
    corpus's qualifying similarities is negligible; candidates are
    exact-verified, so precision is 1 by construction)."""
    from bitfilters_spark.operators.dedup import (
        minhash_lsh_pairs,
        shingle_jaccard_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    lsh = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    }
    exact = {
        (r["id_a"], r["id_b"])
        for r in shingle_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.5
        ).collect()
    }
    assert lsh == exact


def test_quantize_int8_roundtrip_error(spark):
    """Codes stay in [-127, 127] and reconstruction error is bounded by
    half a quantization step per element."""
    import numpy as np

    from bitfilters_spark.operators.similarity import quantize_int8

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = quantize_int8(emb, "vec_id", "embedding").collect()
    orig = {r["vec_id"]: np.array(r["embedding"]) for r in emb.collect()}
    for r in rows:
        q = np.array(r["qvec"], dtype=np.int64)
        assert q.min() >= -127 and q.max() <= 127
        recon = q * r["scale"] / 127.0
        step = r["scale"] / 127.0
        assert np.abs(recon - orig[r["vec_id"]]).max() <= step / 2 + 1e-9


def test_ivf_index_roundtrip_reuses_quantizer(spark, tmp_path):
    """Persisted centroids reproduce identical ANN results (and skip the
    k-means pass — results must match a fresh build with the same seed)."""
    import numpy as np

    from bitfilters_spark.operators.similarity import (
        ivf_centroids,
        ivf_topk,
        load_ivf_index,
        save_ivf_index,
    )

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = df.limit(5)
    C = ivf_centroids(df, "embedding", 8, seed=42)
    p = str(tmp_path / "ivf_index")
    save_ivf_index(C, p)
    C2 = load_ivf_index(p)
    assert np.array_equal(C, C2)
    fresh = {
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in ivf_topk(
            df, queries, k=3, n_centroids=8, nprobe=8, seed=42
        ).collect()
    }
    reused = {
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in ivf_topk(
            df, queries, k=3, n_centroids=8, nprobe=8, centroids=C2
        ).collect()
    }
    assert fresh == reused


def test_shingle_jaccard_prethin_equals_window_path(spark):
    """The two df_cap physical strategies (window count reusing the join
    shuffle vs broadcast hot-list pre-thin) must return identical pairs on
    a corpus with a deliberately hot boilerplate shingle."""
    from bitfilters_spark.operators.dedup import shingle_jaccard_pairs

    boiler = "copyright notice all rights reserved"  # hot in every doc
    rows = [
        (i, f"{boiler} unique body {i} tokens alpha beta gamma {i}")
        for i in range(30)
    ]
    rows += [(100, rows[0][1]), (101, rows[1][1])]  # true near-dups
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(threshold=0.3, df_cap=5)
    window_path = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in shingle_jaccard_pairs(docs, "doc_id", "text", **kw).collect()
    }
    prethin_path = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in shingle_jaccard_pairs(
            docs, "doc_id", "text", prethin_hot=True, **kw
        ).collect()
    }
    assert window_path == prethin_path
    assert {(a, b) for a, b, _ in window_path} >= {(0, 100), (1, 101)}


def test_containment_finds_embedded_doc_jaccard_misses(spark):
    """A 20-word doc verbatim inside a 200-word doc: containment 1.0,
    Jaccard ~0.09 — the asymmetric case the operator exists for."""
    from bitfilters_spark.operators.dedup import (
        shingle_containment_pairs,
        shingle_jaccard_pairs,
    )

    long_words = [f"w{i}" for i in range(200)]
    short = " ".join(long_words[50:70])
    rows = [
        (1, " ".join(long_words)),
        (2, short),
        (3, "totally different content " + " ".join(f"z{i}" for i in range(30))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cont = shingle_containment_pairs(docs, "doc_id", "text", threshold=0.9).collect()
    assert [(r["id_a"], r["id_b"]) for r in cont] == [(1, 2)]
    r = cont[0]
    assert r["containment"] == 1.0 and r["c_ba"] == 1.0 and r["c_ab"] < 0.15
    jac = shingle_jaccard_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    assert jac == []  # resemblance misses the embedding entirely


def test_containment_matches_brute_force(spark):
    """Every emitted direction ratio equals the python set computation."""
    from bitfilters_spark.operators.dedup import shingle_containment_pairs

    rng = __import__("random").Random(5)
    vocab = [f"t{i}" for i in range(40)]
    rows = [(i, " ".join(rng.choice(vocab) for _ in range(30))) for i in range(25)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def shingles(t):
        w = t.split(" ")
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    sets = {i: shingles(t) for i, t in rows}
    expect = {}
    for a in sets:
        for b in sets:
            if a < b and sets[a] and sets[b]:
                inter = len(sets[a] & sets[b])
                c = inter / min(len(sets[a]), len(sets[b]))
                if c >= 0.3:
                    expect[(a, b)] = (
                        round(inter / len(sets[a]), 6),
                        round(inter / len(sets[b]), 6),
                        round(c, 6),
                    )
    got = {
        (r["id_a"], r["id_b"]): (r["c_ab"], r["c_ba"], r["containment"])
        for r in shingle_containment_pairs(
            docs, "doc_id", "text", threshold=0.3
        ).collect()
    }
    assert got == expect


def test_containment_prethin_equals_window(spark):
    """df_cap physical strategies agree for the containment variant too
    (they share _shingle_pair_intersections with the Jaccard operator)."""
    from bitfilters_spark.operators.dedup import shingle_containment_pairs

    boiler = "all rights reserved by the site"
    rows = [(i, f"{boiler} body {i} alpha beta gamma delta {i}") for i in range(20)]
    rows += [(100, "body 0 alpha beta"), (101, rows[1][1])]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(threshold=0.4, df_cap=4)
    a = {
        tuple(r) for r in
        shingle_containment_pairs(docs, "doc_id", "text", **kw).collect()
    }
    b = {
        tuple(r) for r in
        shingle_containment_pairs(
            docs, "doc_id", "text", prethin_hot=True, **kw
        ).collect()
    }
    assert a == b and a


def test_lsh_params_s_curve_math(spark):
    """The chosen (bands, rows) must clear the recall bar at the
    threshold and minimize the half-threshold candidate rate among k's
    divisors (brute-force checked); the operator's shipped 16-band
    default is endorsed at its documented operating point (corpus pairs
    at j >= 0.9, miss probability ~0)."""
    import pytest as _pytest

    from bitfilters_spark.operators.dedup import lsh_params

    for thr, bar in ((0.5, 0.9), (0.9, 0.999)):
        p = lsh_params(thr, k=64, min_recall=bar)
        b, r = p["bands"], p["rows_per_band"]
        assert b * r == 64
        raw_recall = 1 - (1 - thr**r) ** b
        assert abs(p["recall_at_threshold"] - raw_recall) < 1e-6
        assert raw_recall >= bar
        # brute force: no other divisor clears the bar with fewer
        # half-threshold candidates
        for b2 in (1, 2, 4, 8, 16, 32, 64):
            r2 = 64 // b2
            if 1 - (1 - thr**r2) ** b2 >= bar:
                fp2 = 1 - (1 - (thr / 2) ** r2) ** b2
                assert fp2 >= p["candidate_rate_at_half_threshold"] - 1e-9
    # the shipped default (16 bands of 4) at its documented operating
    # point: j >= 0.9 pairs are essentially never missed
    miss_16_4 = (1 - 0.9**4) ** 16
    assert miss_16_4 < 1e-7
    with _pytest.raises(ValueError, match="increase k"):
        lsh_params(0.95, k=4, min_recall=0.999999)


# ------------------------------------------------------------------ PCA ---


def test_pca_matches_numpy(spark):
    import numpy as np
    from bitfilters_spark.operators.similarity import fit_pca, project_embeddings

    rng = np.random.RandomState(11)
    # anisotropic cloud: known principal directions
    X = rng.randn(400, 8) @ np.diag([5, 3, 2, 1, 0.5, 0.2, 0.1, 0.05])
    rows = [(i, X[i].tolist()) for i in range(len(X))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").repartition(7)

    model = fit_pca(df, "embedding", k=3)

    # numpy reference
    mu = X.mean(0)
    cov = np.cov(X.T, bias=True)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:3]
    ref_vals = vals[order]
    ref_comps = vecs[:, order].T.copy()
    for i in range(3):
        j = int(np.argmax(np.abs(ref_comps[i])))
        if ref_comps[i, j] < 0:
            ref_comps[i] = -ref_comps[i]

    np.testing.assert_allclose(model["mean"], mu, atol=1e-9)
    np.testing.assert_allclose(model["explained_variance"], ref_vals, rtol=1e-9)
    np.testing.assert_allclose(model["components"], ref_comps, atol=1e-8)

    got = {r["vec_id"]: np.array(r["pca"]) for r in
           project_embeddings(df, "vec_id", "embedding", model).collect()}
    ref_proj = (X - mu) @ ref_comps.T
    for i in range(len(X)):
        np.testing.assert_allclose(got[i], ref_proj[i], atol=1e-8)


def test_pca_partition_invariance(spark):
    import numpy as np
    from bitfilters_spark.operators.similarity import fit_pca

    rng = np.random.RandomState(3)
    X = rng.randn(200, 6)
    rows = [(i, X[i].tolist()) for i in range(len(X))]
    df1 = spark.createDataFrame(rows, "vec_id long, embedding array<double>").coalesce(1)
    df2 = spark.createDataFrame(rows, "vec_id long, embedding array<double>").repartition(13)
    m1, m2 = fit_pca(df1, "embedding", 2), fit_pca(df2, "embedding", 2)
    np.testing.assert_allclose(m1["components"], m2["components"], atol=1e-9)
    np.testing.assert_allclose(m1["explained_variance"], m2["explained_variance"], rtol=1e-9)


def test_pca_then_topk_rotation_invariance(spark):
    """The advertised pipeline: project, then ANN on the projection. At
    full rank with center=False the projection is a pure rotation, so
    cosine similarities — and therefore the exact top-k — are preserved
    bit-for-bit-modulo-float: projected-space neighbors must equal
    full-space neighbors."""
    import numpy as np
    from bitfilters_spark.operators.similarity import (
        cosine_topk, fit_pca, project_embeddings,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    d = len(emb.select("embedding").first()[0])
    model = fit_pca(emb, "embedding", k=d, center=False)
    # orthonormality of the learned basis
    W = np.asarray(model["components"])
    np.testing.assert_allclose(W @ W.T, np.eye(d), atol=1e-8)
    proj = project_embeddings(emb, "vec_id", "embedding", model, out_col="embedding")
    q_full = emb.limit(5)
    q_proj = proj.limit(5)
    want = sorted(map(tuple, cosine_topk(emb, q_full, "vec_id", "embedding", k=3)
                      .select("query_id", "rank", "neighbor_id").collect()))
    got = sorted(map(tuple, cosine_topk(proj, q_proj, "vec_id", "embedding", k=3)
                     .select("query_id", "rank", "neighbor_id").collect()))
    assert got == want


def test_ann_recall_report_exact_when_nprobe_full(spark):
    """nprobe == n_centroids is brute force: measured recall must be 1.0
    and top-1 must match exactly."""
    from bitfilters_spark.operators.similarity import ann_recall_report

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rep = ann_recall_report(
        emb, k=5, n_centroids=8, nprobe=8, n_queries=10, seed=3
    )
    assert rep["n_queries"] > 0
    assert rep["recall_at_k"] == 1.0
    assert rep["top1_match_rate"] == 1.0
    assert rep["scan_fraction"] == 1.0


def test_ann_recall_report_tradeoff_monotone(spark):
    """More probes -> recall (weakly) rises; tiny nprobe costs recall.
    The report is the tool that surfaces that trade before a full run."""
    from bitfilters_spark.operators.similarity import ann_recall_report

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    lo = ann_recall_report(emb, k=5, n_centroids=16, nprobe=1, n_queries=10, seed=3)
    hi = ann_recall_report(emb, k=5, n_centroids=16, nprobe=8, n_queries=10, seed=3)
    assert lo["scan_fraction"] < hi["scan_fraction"]
    assert lo["recall_at_k"] <= hi["recall_at_k"] + 1e-9
    assert hi["recall_at_k"] > 0.5


def test_pq_lossless_regime_equals_cosine_topk(spark):
    """When every subspace has <= n_codes distinct subvectors, the
    codebooks store them all (dedup init + k-means fixpoint), encoding
    is lossless, and ADC ranking == exact cosine ranking, row for row."""
    from bitfilters_spark.operators.similarity import (
        cosine_topk, pq_encode, pq_topk, train_pq,
    )

    rng = np.random.default_rng(11)
    # vectors assembled from a small pool of subvector patterns: 6
    # distinct values per 4-dim subspace, 8 subspaces. Pool rows are
    # unit-norm so every assembled vector has full norm sqrt(8) and the
    # trainer's L2 normalization maps each subspace onto the SAME <= 6
    # values for every row (a row-dependent norm would break that).
    pool = rng.standard_normal((6, 4))
    pool /= np.linalg.norm(pool, axis=1, keepdims=True)
    rows = []
    for i in range(80):
        v = np.concatenate([pool[rng.integers(0, 6)] for _ in range(8)])
        rows.append((i, v.tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    model = train_pq(df, m=8, n_codes=16, sample_rows=1000, seed=5)
    codes = pq_encode(df, model=model)
    q = df.where(F.col("vec_id") < 10)
    got = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in pq_topk(codes, q, model, k=5).collect()
    }
    want = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in cosine_topk(df, q, k=5).collect()
    }
    assert got == want


def test_pq_recall_report_and_compression(spark):
    from bitfilters_spark.operators.similarity import pq_recall_report

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    d = len(emb.select("embedding").first()[0])
    rep = pq_recall_report(emb, k=5, m=8, n_codes=64, n_queries=10, seed=3)
    assert rep["n_queries"] > 0
    assert rep["bytes_per_vector"] == 8
    assert rep["compression_x"] == d  # d*8 bytes of float64 -> 8 bytes
    # 64 codes / 8 subspaces on a real embedding table: coarse but must
    # beat chance by far (k=5 of ~2000 rows, chance recall ~0.25%)
    assert rep["recall_at_k"] > 0.3
    # finer codebooks must not hurt recall much; 256 codes beats 4
    lo = pq_recall_report(emb, k=5, m=8, n_codes=4, n_queries=10, seed=3)
    assert rep["recall_at_k"] >= lo["recall_at_k"] - 1e-9


def test_pq_index_roundtrip(spark, tmp_path):
    from bitfilters_spark.operators.similarity import (
        load_pq_index, pq_encode, pq_topk, save_pq_index, train_pq,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    model = train_pq(emb, m=8, n_codes=32, seed=9)
    p = str(tmp_path / "pq_index")
    save_pq_index(model, p)
    loaded = load_pq_index(p)
    assert np.array_equal(loaded["codebooks"], model["codebooks"])
    assert (loaded["m"], loaded["d"]) == (model["m"], model["d"])
    q = emb.limit(3)
    a = pq_topk(pq_encode(emb, model=model), q, model, k=3).collect()
    b = pq_topk(pq_encode(emb, model=loaded), q, loaded, k=3).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_pq_validation_errors(spark):
    from bitfilters_spark.operators.similarity import train_pq

    emb = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="not divisible"):
        train_pq(emb, m=2)
    with pytest.raises(ValueError, match="n_codes"):
        train_pq(emb, m=3, n_codes=512)
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="empty input"):
        train_pq(empty, m=1)


def test_ann_index_probe_equals_ivf_topk(spark, tmp_path):
    """Persisted IVF index (#132): probing the routed-cells table returns
    EXACTLY ivf_topk with the same centroids/nprobe (normalized float64
    vectors round-trip parquet losslessly, scoring order identical), and
    at full probe that is exact brute-force recall. The cells scan must
    carry the candidate-cell In-filter (PushedFilters)."""
    import contextlib
    import io

    from bitfilters_spark.operators.ann_index import (
        ann_query_index,
        build_ann_index,
    )
    from bitfilters_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 10)
    C = build_ann_index(
        emb, "vec_id", "embedding", "annix", n_centroids=16,
        num_buckets=4, path=str(tmp_path / "annix"),
    )
    for nprobe in (16, 4):  # full probe (exact) and partial probe
        via_index = ann_query_index(
            spark, "annix", queries, "vec_id", "embedding", k=5, nprobe=nprobe
        )
        direct = ivf_topk(
            emb, queries, "vec_id", "embedding", k=5, n_centroids=16,
            nprobe=nprobe, centroids=C,
        ).select("query_id", "rank", "neighbor_id")
        a = sorted(map(tuple, via_index.collect()))
        b = sorted(map(tuple, direct.collect()))
        assert a == b and len(a) > 0
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        ann_query_index(
            spark, "annix", queries, "vec_id", "embedding", k=5, nprobe=4
        ).explain(mode="formatted")
    plan = buf.getvalue()
    assert "PushedFilters" in plan and "In(cell" in plan


def test_ann_index_append_equals_rebuild(spark, tmp_path):
    """Incremental maintenance: building on half the vectors then
    appending the other half (routed through the FROZEN stored centroids)
    probes exactly like a from-scratch rebuild over the union with the
    same centroids; a mismatched bucket count fails loudly."""
    import numpy as np
    import pytest as _pytest

    from bitfilters_spark.operators.ann_index import (
        ann_query_index,
        append_to_ann_index,
        build_ann_index,
        load_ann_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    old = emb.where(F.col("vec_id") % 2 == 0)
    new = emb.where(F.col("vec_id") % 2 == 1)
    queries = emb.where(F.col("vec_id") < 6)
    C = build_ann_index(
        old, "vec_id", "embedding", "annapp", n_centroids=8,
        num_buckets=4, path=str(tmp_path / "app"),
    )
    append_to_ann_index(new, "vec_id", "embedding", "annapp", num_buckets=4)
    build_ann_index(
        emb, "vec_id", "embedding", "annfull", n_centroids=8,
        num_buckets=4, path=str(tmp_path / "full"), centroids=C,
    )
    a = sorted(map(tuple, ann_query_index(
        spark, "annapp", queries, "vec_id", "embedding", k=5, nprobe=8
    ).collect()))
    b = sorted(map(tuple, ann_query_index(
        spark, "annfull", queries, "vec_id", "embedding", k=5, nprobe=8
    ).collect()))
    assert a == b and len(a) > 0
    np.testing.assert_array_equal(
        load_ann_centroids(spark, "annapp"), load_ann_centroids(spark, "annfull")
    )
    with _pytest.raises(ValueError, match="num_buckets"):
        append_to_ann_index(new, "vec_id", "embedding", "annapp", num_buckets=8)


def test_ann_index_recenter(spark, tmp_path):
    """recenter_ann_index re-trains the quantizer from the index's own
    vectors: full-probe answers are UNCHANGED (exact regardless of
    centroids), the index holds the same id set, geometry carries over,
    and the probe stays consistent with ivf_topk under the NEW
    centroids at partial probe."""
    from bitfilters_spark.operators.ann_index import (
        ann_query_index,
        build_ann_index,
        recenter_ann_index,
    )
    from bitfilters_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 8)
    build_ann_index(
        emb, "vec_id", "embedding", "annrc", n_centroids=16,
        num_buckets=4, path=str(tmp_path / "annrc"),
    )
    before_full = sorted(
        map(tuple, ann_query_index(
            spark, "annrc", queries, "vec_id", "embedding", k=5, nprobe=16
        ).collect())
    )
    n_before = spark.table("annrc_cells").count()
    C2 = recenter_ann_index(
        spark, "annrc", seed=7, path=str(tmp_path / "annrc")
    )
    assert C2.shape[0] == 16
    assert spark.table("annrc_cells").count() == n_before
    after_full = sorted(
        map(tuple, ann_query_index(
            spark, "annrc", queries, "vec_id", "embedding", k=5, nprobe=16
        ).collect())
    )
    assert after_full == before_full  # full probe is centroid-invariant
    # partial probe matches ivf_topk under the NEW quantizer
    via = sorted(map(tuple, ann_query_index(
        spark, "annrc", queries, "vec_id", "embedding", k=5, nprobe=4
    ).collect()))
    direct = sorted(map(tuple, ivf_topk(
        emb, queries, "vec_id", "embedding", k=5, n_centroids=16,
        nprobe=4, centroids=C2,
    ).select("query_id", "rank", "neighbor_id").collect()))
    assert via == direct and len(via) > 0


def test_binary_signatures_packing_law(spark):
    """#163: word w packs dims [32w, 32w+32) as sign bits — exact python
    replay, including an exact-0.0 dim (packs as 0) and a non-multiple-
    of-32 dimension tail."""
    from bitfilters_spark.operators.similarity import binary_signatures

    rng = np.random.default_rng(3)
    rows = []
    for i in range(20):
        v = rng.standard_normal(70)
        v[i % 70] = 0.0  # tie-at-zero packs as 0 in every engine
        rows.append((i, v.tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: list(r["sig"])
        for r in binary_signatures(df).collect()
    }
    for i, v in rows:
        want = []
        for w in range((70 + 31) // 32):
            word = 0
            for j in range(w * 32, min(w * 32 + 32, 70)):
                if v[j] > 0:
                    word |= 1 << (j - w * 32)
            want.append(word)
        assert got[i] == want, i


def test_hamming_topk_equals_brute_force(spark):
    """hamming_topk ≡ a numpy sign-bit/hamming/tie replay exactly
    (integer distance — no float tolerance anywhere), and a planted
    near-duplicate is its query's top-1."""
    from bitfilters_spark.operators.similarity import hamming_topk

    rng = np.random.default_rng(9)
    base = rng.standard_normal((60, 64))
    rows = [(i, base[i].tolist()) for i in range(60)]
    dup = base[7].copy()
    dup[3] += 0.001  # near-dup of 7: identical sign pattern (almost)
    rows.append((100, dup.tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.where(F.col("vec_id").isin([0, 7, 100]))
    got = [
        (r["query_id"], r["rank"], r["neighbor_id"], r["hamming"])
        for r in hamming_topk(df, queries, k=4).collect()
    ]
    # brute force
    ids = [r[0] for r in rows]
    bits = {i: (np.array(v) > 0) for i, v in rows}
    want = []
    for qid in (0, 7, 100):
        ds = sorted(
            (int((bits[qid] ^ bits[i]).sum()), i)
            for i in ids if i != qid
        )
        for rk, (d, i) in enumerate(ds[:4], 1):
            want.append((qid, rk, i, d))
    assert sorted(got) == sorted(want)
    top1 = {q: n for q, rk, n, _ in got if rk == 1}
    assert top1[100] == 7 and top1[7] == 100


def test_hamming_topk_degenerate_vectors(spark):
    """r13 review: an empty embedding packs to an empty signature, a
    NULL embedding to a NULL one — neither crashes the fold nor ranks
    (NULL hamming would otherwise sort NULLS FIRST and crown rank 1)."""
    from bitfilters_spark.operators.similarity import (
        binary_signatures,
        hamming_topk,
    )

    rng = np.random.default_rng(5)
    rows = [(i, rng.standard_normal(64).tolist()) for i in range(10)]
    rows += [(50, []), (51, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    sigs = {r["vec_id"]: r["sig"] for r in binary_signatures(df).collect()}
    assert sigs[50] == [] and sigs[51] is None
    got = hamming_topk(df, df.where(F.col("vec_id") < 2), k=3).collect()
    assert len(got) == 6  # 2 queries x k
    assert all(r["neighbor_id"] not in (50, 51) for r in got)
    assert all(r["hamming"] is not None for r in got)


def test_hamming_rerank_topk_two_stage(spark):
    """r14 (#173): the packaged Hamming-coarse -> exact-cosine re-rank.
    (a) when overfetch covers the corpus the result EQUALS cosine_topk
    row for row; (b) recall vs cosine_topk is monotone non-decreasing
    in overfetch (nested candidate supersets); (c) the score column is
    the true cosine of the returned pair (numpy replay)."""
    from bitfilters_spark.operators.similarity import (
        cosine_topk,
        hamming_rerank_topk,
    )

    rng = np.random.default_rng(23)
    base = rng.standard_normal((80, 64))
    df = spark.createDataFrame(
        [(i, base[i].tolist()) for i in range(80)],
        "vec_id long, embedding array<double>",
    )
    queries = df.where(F.col("vec_id") < 6)

    want = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in cosine_topk(df, queries, k=5).collect()
    )
    full = hamming_rerank_topk(df, queries, k=5, overfetch=16).collect()
    got = sorted((r["query_id"], r["rank"], r["neighbor_id"]) for r in full)
    assert got == want  # k*overfetch=80 covers the corpus

    # score column is the exact cosine (numpy replay, 1e-12)
    unit = base / np.linalg.norm(base, axis=1, keepdims=True)
    for r in full:
        c = float(unit[r["query_id"]] @ unit[r["neighbor_id"]])
        assert abs(r["score"] - c) < 1e-12

    truth = {}
    for q, _, n in want:
        truth.setdefault(q, set()).add(n)
    prev = -1.0
    for ov in (1, 2, 4, 16):
        res = hamming_rerank_topk(df, queries, k=5, overfetch=ov).collect()
        hit = sum(
            1 for r in res if r["neighbor_id"] in truth[r["query_id"]]
        )
        recall = hit / sum(len(v) for v in truth.values())
        assert recall >= prev - 1e-9, (ov, recall, prev)
        prev = recall
    assert prev == 1.0  # the covering overfetch ends at full recall


def test_hamming_topk_max_queries_guard(spark):
    """r14 (ADVICE): the query side is broadcast, so a corpus-sized
    query frame must fail LOUDLY (the ann_query_index convention), not
    OOM the broadcast; at the bound it still runs."""
    import pytest

    from bitfilters_spark.operators.similarity import hamming_topk

    rng = np.random.default_rng(7)
    rows = [(i, rng.standard_normal(16).tolist()) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="max_queries"):
        hamming_topk(df, df, k=2, max_queries=5)
    got = hamming_topk(df, df, k=2, max_queries=12).collect()
    assert len(got) == 24


def test_chain_order_within_cells_locality_law(spark):
    """#170: every id gets exactly one (cell, chain_pos); chain_pos is
    dense-from-0 per cell (single-block cells); the greedy chain's mean
    adjacent cosine beats id-order's by construction on clustered data;
    deterministic under repartitioning; max_cell splits keep positions
    monotonic and disjoint."""
    from bitfilters_spark.operators.similarity import chain_order_within_cells

    rng = np.random.default_rng(17)
    centers = rng.standard_normal((4, 32)) * 3
    rows = []
    for i in range(120):
        c = i % 4
        rows.append((i, (centers[c] + 0.3 * rng.standard_normal(32)).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    from bitfilters_spark.operators.similarity import ivf_centroids

    # pin the quantizer: ivf_centroids samples via limit(), whose row
    # order (hence the k-means init) shifts with partitioning — the
    # operator's own determinism claim is about the CHAIN given a model
    C = ivf_centroids(df, n_centroids=4)
    got = chain_order_within_cells(df, n_centroids=4, centroids=C).collect()
    assert sorted(r["vec_id"] for r in got) == list(range(120))
    by_cell = {}
    for r in got:
        by_cell.setdefault(r["cell"], []).append((r["chain_pos"], r["vec_id"]))
    vecs = {i: np.array(v) / np.linalg.norm(v) for i, v in rows}
    chain_sims, id_sims = [], []
    for cell, members in by_cell.items():
        members.sort()
        assert [p for p, _ in members] == list(range(len(members)))
        ids = [i for _, i in members]
        chain_sims += [float(vecs[a] @ vecs[b]) for a, b in zip(ids, ids[1:])]
        ordered = sorted(ids)
        id_sims += [
            float(vecs[a] @ vecs[b]) for a, b in zip(ordered, ordered[1:])
        ]
    assert np.mean(chain_sims) >= np.mean(id_sims) - 1e-12
    again = chain_order_within_cells(
        df.repartition(7), n_centroids=4, centroids=C
    ).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, got))
    # max_cell split: positions monotonic across blocks, all distinct
    small = chain_order_within_cells(df, n_centroids=1, max_cell=32)
    ps = [r["chain_pos"] for r in small.collect()]
    assert len(set(ps)) == 120
    assert max(ps) < 4 * 32  # ceil(120/32)=4 blocks, base = blk*32
    # composition: feeds pack_shards(order_cols=...)
    from bitfilters_spark.operators.packing import pack_shards

    w = spark.createDataFrame(
        [(i, 5) for i in range(120)], "vec_id long, n int"
    )
    order = chain_order_within_cells(df, n_centroids=4)
    packed = pack_shards(
        w.join(order, "vec_id"), "vec_id", "n", 50,
        order_cols=["cell", "chain_pos"],
    )
    assert packed.count() == 120


def test_pq_code_dedup_semdedup_lite(spark):
    """#179: identical m-byte PQ codes flag embedding near-dups at one
    groupBy. (a) planted near-copies share their original's code under a
    fine model and verification keeps them (cos > 0.99); (b) a 3-copy
    group pairs both copies against the min-id winner (never all-pairs);
    (c) a deliberately COARSE model (n_codes=1 => every vector one code)
    collapses everything, and verify_threshold prunes the false
    collapses down to the true duplicates; (d) pq_code_dedup drops
    exactly the verified non-winners."""
    from bitfilters_spark.operators.similarity import (
        pq_code_dedup,
        pq_code_neardup_pairs,
        train_pq,
    )

    rng = np.random.default_rng(41)
    base = rng.standard_normal((60, 32))
    rows = [(i, base[i].tolist()) for i in range(60)]
    # 100/101: near-copies of 0; 102: near-copy of 1 (min-id sources, so
    # the code-group winner is always the original)
    rows.append((100, (base[0] + 1e-4 * rng.standard_normal(32)).tolist()))
    rows.append((101, (base[0] + 1e-4 * rng.standard_normal(32)).tolist()))
    rows.append((102, (base[1] + 1e-4 * rng.standard_normal(32)).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # codebook must be COARSER than the duplicate noise: at n_codes=16
    # over ~63 distinct subvectors, a 1e-4 perturbation lands in its
    # original's cell in every subspace while distinct random vectors
    # rarely share all m cells — and the cosine verify drops those
    model = train_pq(df, m=4, n_codes=16)
    pairs = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in pq_code_neardup_pairs(
            df, model=model, verify_threshold=0.99
        ).collect()
    }
    assert set(pairs) == {(0, 100), (0, 101), (1, 102)}  # winner = min id
    assert all(c > 0.99 for c in pairs.values())

    kept = {
        r["vec_id"]
        for r in pq_code_dedup(
            df, model=model, verify_threshold=0.99
        ).collect()
    }
    assert kept == set(range(60))  # all originals, no copies

    # coarse model: one code for everything -> candidates explode, the
    # exact-cosine verify is what keeps the operator honest
    coarse = train_pq(df, m=1, n_codes=1)
    cand = pq_code_neardup_pairs(df, model=coarse)
    assert cand.count() == 62  # everyone vs the single min-id winner
    verified = {
        (r["id_a"], r["id_b"])
        for r in pq_code_neardup_pairs(
            df, model=coarse, verify_threshold=0.99
        ).collect()
    }
    # the single group's winner is vec 0, so the exact-cosine verify
    # keeps ONLY vec 0's true duplicates out of the 62 candidates —
    # 102 is a dup of vec 1, invisible against winner 0 (the documented
    # coarse-model recall cost the fine model above does not pay)
    assert verified == {(0, 100), (0, 101)}


def test_nn_descent_graph_recall_and_exactness(spark):
    """#180: NN-Descent converges to the brute-force kNN graph on a small
    clustered corpus, sims replay numpy cosine exactly, output shape laws
    hold (<=k per node, dense ranks, no self edges)."""
    from bitfilters_spark.operators.similarity import nn_descent_graph

    # clustered corpus — the regime real embeddings live in (NN-Descent's
    # convergence argument needs local structure; on structure-free
    # Gaussian noise any neighbor-propagation method degrades)
    rng = np.random.default_rng(7)
    cents = rng.standard_normal((12, 16)) * 3
    rows = [
        (c * 10 + j, (cents[c] + 0.35 * rng.standard_normal(16)).tolist())
        for c in range(12)
        for j in range(10)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ids = [r[0] for r in rows]
    mat = np.array([r[1] for r in rows])
    g = nn_descent_graph(df, k=6, iters=3, seed=3).toPandas()

    # shape laws
    assert not (g["id"] == g["nbr"]).any()
    per = g.groupby("id").agg(n=("rank", "size"), mx=("rank", "max"))
    assert (per["n"] <= 6).all() and (per["n"] == per["mx"]).all()
    assert len(per) == len(ids)  # every node has edges

    # sims are exact cosine
    m = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    idx = {v: i for i, v in enumerate(ids)}
    for r in g.itertuples():
        expect = float(m[idx[r.id]] @ m[idx[r.nbr]])
        assert abs(r.sim - expect) < 1e-9

    # recall vs brute force top-6
    sims = m @ m.T
    np.fill_diagonal(sims, -np.inf)
    hit = tot = 0
    got = g.groupby("id")["nbr"].apply(set).to_dict()
    for v, i in idx.items():
        truth = {ids[j] for j in np.argsort(-sims[i])[:6]}
        hit += len(truth & got.get(v, set()))
        tot += 6
    assert hit / tot >= 0.95


def test_nn_descent_graph_monotone_and_deterministic(spark):
    """Union+top-k makes mean graph similarity monotone in iterations;
    the whole construction is deterministic for a fixed seed."""
    from bitfilters_spark.operators.similarity import nn_descent_graph

    df, _, _, _ = _corpus(spark, n=70, dim=16, n_pairs=8)
    means = [
        nn_descent_graph(df, k=5, iters=i, seed=11)
        .agg(F.avg("sim"))
        .first()[0]
        for i in range(3)
    ]
    assert means[0] <= means[1] + 1e-12 and means[1] <= means[2] + 1e-12
    assert means[2] > means[0]  # descent actually improved over the ring

    a = sorted(map(tuple, nn_descent_graph(df, k=5, iters=2, seed=11).collect()))
    b = sorted(map(tuple, nn_descent_graph(df, k=5, iters=2, seed=11).collect()))
    assert a == b

    # sampled candidates: still valid shape, deterministic, and guards fire
    s = nn_descent_graph(df, k=5, iters=2, seed=11, sample_pct=50)
    assert s.groupBy("id").count().agg(F.max("count")).first()[0] <= 5
    with pytest.raises(ValueError):
        nn_descent_graph(df, k=0)
    with pytest.raises(ValueError):
        nn_descent_graph(df, k=5, sample_pct=0)


def test_mutual_knn_clusters_recovers_planted_clusters(spark):
    """#182: NN-Descent graph -> mutual-kNN sweep recovers the planted
    clusters exactly; the asymmetric hub is cut loose; nodes with no
    mutual edges come back as singletons, not dropped rows."""
    from bitfilters_spark.operators.clustering import mutual_knn_clusters
    from bitfilters_spark.operators.similarity import nn_descent_graph

    rng = np.random.default_rng(5)
    cents = rng.standard_normal((6, 16)) * 4
    rows = [
        (c * 10 + j, (cents[c] + 0.3 * rng.standard_normal(16)).tolist())
        for c in range(6)
        for j in range(10)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    g = nn_descent_graph(df, k=5, iters=3, seed=9)
    out = mutual_knn_clusters(g, threshold=0.5).toPandas()
    assert len(out) == 60
    # every planted cluster collapses to one component labeled by min id
    comp = out.set_index("id")["component"].to_dict()
    for c in range(6):
        members = {comp[c * 10 + j] for j in range(10)}
        assert members == {c * 10}
    assert (out["n_members"] == 10).all()

    # asymmetric hub: in everyone's list but reciprocates only into A
    hub_rows = (
        [(0, 1, 0.9), (1, 0, 0.9), (0, 99, 0.8), (1, 99, 0.8)]  # A + hub edges
        + [(10, 11, 0.9), (11, 10, 0.9), (10, 99, 0.8), (11, 99, 0.8)]  # B
        + [(99, 0, 0.8)]  # hub lists only A's member back
    )
    knn = spark.createDataFrame(hub_rows, "id long, nbr long, sim double")
    got = {
        r["id"]: (r["component"], r["n_members"])
        for r in mutual_knn_clusters(knn, threshold=0.5).collect()
    }
    assert got[0] == (0, 3) and got[1] == (0, 3) and got[99] == (0, 3)
    # B stays its own 2-cluster — the hub did NOT chain A and B together
    assert got[10] == (10, 2) and got[11] == (10, 2)

    # threshold cuts everything -> all singletons
    single = mutual_knn_clusters(knn, threshold=0.95).toPandas()
    assert (single["component"] == single["id"]).all()
    assert (single["n_members"] == 1).all()


def test_mutual_knn_duplicated_edge_and_nbr_only_node(spark):
    """Review regressions: a DUPLICATED one-way edge must not read as
    mutual (direction-distinct count), and a node appearing only as
    someone's nbr still gets its singleton row."""
    from bitfilters_spark.operators.clustering import mutual_knn_clusters

    knn = spark.createDataFrame(
        [(1, 2, 0.9), (1, 2, 0.9), (1, 99, 0.8)],  # dup one-way + nbr-only 99
        "id long, nbr long, sim double",
    )
    got = {
        r["id"]: (r["component"], r["n_members"])
        for r in mutual_knn_clusters(knn, threshold=0.5).collect()
    }
    # nothing reciprocated -> all singletons, 99 present
    assert got == {1: (1, 1), 2: (2, 1), 99: (99, 1)}


def test_topk_ties_break_by_lowest_neighbor_id(spark, tmp_path):
    """Duplicate vectors tie on similarity; every top-k operator breaks
    the tie by neighbor id, even when all candidates sit in one batch of
    one partition (where a per-batch top-k could keep any of them)."""
    from bitfilters_spark.operators.ann_index import (
        ann_query_index,
        build_ann_index,
    )
    from bitfilters_spark.operators.similarity import (
        ivf_topk, pq_encode, pq_topk, train_pq,
    )

    df = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in (9, 7, 5, 3)],
        "vec_id long, embedding array<double>",
    ).coalesce(1)
    q = spark.createDataFrame([(100, [1.0, 0.0])], "vec_id long, embedding array<double>")
    model = train_pq(df, m=2, n_codes=4, seed=1)  # one distinct subvector: lossless
    codes = pq_encode(df, model=model)
    C = build_ann_index(
        df, "vec_id", "embedding", "tieix", n_centroids=2, num_buckets=1,
        path=str(tmp_path / "tieix"),
    )
    for k, want in ((1, [3]), (2, [3, 5])):
        runs = {
            "cosine_topk": cosine_topk(df, q, k=k),
            "pq_topk": pq_topk(codes, q, model, k=k),
            "ivf_topk": ivf_topk(df, q, k=k, nprobe=2, centroids=C),
            "ann_query_index": ann_query_index(spark, "tieix", q, k=k, nprobe=2),
        }
        for name, out in runs.items():
            got = [r["neighbor_id"] for r in out.orderBy("rank").collect()]
            assert got == want, (name, k, got)


def test_vector_kernels_live_in_one_module():
    """Vector columns become matrices and vectors route to centroids only
    in `operators/_vectors.py`: a pandas list conversion or a centroid
    argmax anywhere else in `operators/` is a copy of the engine."""
    import pathlib
    import re

    import bitfilters_spark.operators as ops

    found = []
    for path in sorted(pathlib.Path(ops.__file__).parent.glob("*.py")):
        if path.name == "_vectors.py":
            continue
        for i, line in enumerate(path.read_text().splitlines(), 1):
            if "np.array(list(" in line or re.search(r"argmax\(.*@\s*C\w*\.T", line):
                found.append(f"{path.name}:{i}: {line.strip()}")
    assert not found, found


def test_batch_topk_equals_sorted_reference():
    """The per-batch top-k keeps, per query, exactly the first k rows of
    a plain sort by (sim desc, neighbor id asc) over the non-self rows —
    on dense (rows x queries) scores and on (query, row) pairs, with
    many ties."""
    from bitfilters_spark.operators._vectors import _batch_topk

    rng = np.random.default_rng(2)
    qids = np.array([4, 11, 7], dtype=np.int64)

    def reference(triples, k):
        out = set()
        for qp in range(len(qids)):
            rows = sorted((-s, n) for q, n, s in triples if q == qp and n != qids[qp])
            out |= {(qp, n, -s) for s, n in rows[:k]}
        return out

    for k in (1, 3, 50):
        nid = rng.permutation(40).astype(np.int64)
        dense = rng.integers(0, 4, size=(40, len(qids))).astype(np.float64)
        got = _batch_topk(None, nid, dense, qids, k)
        want = reference(
            [(q, nid[r], dense[r, q]) for r in range(40) for q in range(len(qids))], k
        )
        assert set(zip(*(a.tolist() for a in got))) == want

        qpos = rng.integers(0, len(qids), size=60)
        pnid = rng.permutation(60).astype(np.int64)
        psim = rng.integers(0, 3, size=60).astype(np.float64)
        got = _batch_topk(qpos, pnid, psim, qids, k)
        want = reference(list(zip(qpos, pnid, psim)), k)
        assert sorted(zip(*(a.tolist() for a in got))) == sorted(want)
