"""SemDeDup (within-cluster semantic dedup): correctness of the pair
step vs brute force, dedup invariants, and exact equivalence to global
near-dup dedup when n_centroids=1."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bitfilters_spark.operators.similarity import (
    semantic_dedup,
    semantic_dup_pairs,
)


def _corpus(spark, n=120, dim=16, n_dup_groups=8, seed=3):
    """Synthetic embeddings with planted near-duplicate groups: each dup
    group is one base vector plus tiny jitter (cosine ~0.999); the rest
    are random (expected pairwise cosine ~0)."""
    rng = np.random.default_rng(seed)
    vecs = []
    for g in range(n_dup_groups):
        base = rng.normal(size=dim)
        base /= np.linalg.norm(base)
        for j in range(3):  # 3 copies per group
            v = base + rng.normal(scale=0.01, size=dim)
            vecs.append(v / np.linalg.norm(v))
    while len(vecs) < n:
        v = rng.normal(size=dim)
        vecs.append(v / np.linalg.norm(v))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return df, np.array(vecs)


def _brute_pairs(X, threshold):
    sims = X @ X.T
    out = set()
    n = len(X)
    for i in range(n):
        for j in range(i + 1, n):
            if sims[i, j] >= threshold:
                out.add((i, j))
    return out


def test_single_cell_pairs_match_brute_force(spark):
    df, X = _corpus(spark)
    got = {
        (r["id_a"], r["id_b"])
        for r in semantic_dup_pairs(
            df, threshold=0.9, n_centroids=1
        ).collect()
    }
    assert got == _brute_pairs(X, 0.9)


def test_single_cell_dedup_keeps_min_id_per_group(spark):
    df, X = _corpus(spark)
    survivors = {
        r["vec_id"]
        for r in semantic_dedup(df, threshold=0.9, n_centroids=1).collect()
    }
    # reference: union-find over brute-force pairs
    parent = list(range(len(X)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in _brute_pairs(X, 0.9):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {i for i in range(len(X)) if find(i) == i}
    assert survivors == want
    # the planted groups each lost 2 of 3 copies
    assert len(X) - len(survivors) >= 16


def test_multicell_invariants(spark):
    """With real clustering: partition into survivors/losers; every loser
    has a >= threshold within-cell neighbor; no within-cell pair has both
    sides surviving."""
    df, X = _corpus(spark)
    tau = 0.9
    pairs = {
        (r["id_a"], r["id_b"])
        for r in semantic_dup_pairs(
            df, threshold=tau, n_centroids=8
        ).collect()
    }
    survivors = {
        r["vec_id"]
        for r in semantic_dedup(df, threshold=tau, n_centroids=8).collect()
    }
    all_ids = set(range(len(X)))
    losers = all_ids - survivors
    paired = {i for p in pairs for i in p}
    assert losers <= paired  # nobody dropped without a semantic neighbor
    for a, b in pairs:
        assert not (a in survivors and b in survivors), (a, b)
    # planted dup groups are tight (cos ~0.999) so every group still
    # collapses: at most one survivor among each planted triple
    for g in range(8):
        triple = {3 * g, 3 * g + 1, 3 * g + 2}
        assert len(triple & survivors) <= 1


def test_dedup_is_deterministic(spark):
    df, _ = _corpus(spark)
    s1 = {r["vec_id"] for r in semantic_dedup(df, n_centroids=8).collect()}
    s2 = {
        r["vec_id"]
        for r in semantic_dedup(df.repartition(5), n_centroids=8).collect()
    }
    assert s1 == s2


def test_miss_report_measures_planted_cross_cell_dup(spark):
    """r8 (#115): plant a dup pair forced into DIFFERENT cells by
    passing explicit centroids each member aligns with — the report
    must count it as missed, and its rate must equal brute force over
    the sample (here: the whole corpus, n_sample >= n)."""
    from bitfilters_spark.operators._vectors import route
    from bitfilters_spark.operators.similarity import semdedup_miss_report

    rng = np.random.default_rng(11)
    dim = 8
    # two orthogonal centroids; the planted pair sits BETWEEN them,
    # jittered so one member snaps to each cell
    c0 = np.eye(dim)[0]
    c1 = np.eye(dim)[1]
    mid = (c0 + c1) / np.linalg.norm(c0 + c1)
    a = mid + 0.05 * c0
    b = mid + 0.05 * c1
    a, b = a / np.linalg.norm(a), b / np.linalg.norm(b)
    assert float(a @ b) > 0.99  # a true dup pair
    others = []
    for i in range(40):
        v = rng.normal(size=dim)
        others.append(v / np.linalg.norm(v))
    vecs = [a, b] + others
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    C = np.stack([c0, c1])

    cells = {
        r["id"]: r["cell"]
        for r in route(df, "vec_id", "embedding", C).collect()
    }
    assert cells[0] != cells[1]  # the plant is genuinely cross-cell

    rep = semdedup_miss_report(
        df, "vec_id", "embedding", threshold=0.95,
        n_sample=1000, centroids=C,
    )
    assert rep["n_sample"] == len(vecs)
    X = np.array(vecs)
    true_pairs = _brute_pairs(X, 0.95)
    missed = {
        (i, j) for (i, j) in true_pairs if cells[i] != cells[j]
    }
    assert (0, 1) in missed
    assert rep["n_dup_pairs"] == len(true_pairs)
    assert rep["n_missed"] == len(missed)
    assert rep["miss_rate"] == pytest.approx(len(missed) / len(true_pairs))


def test_miss_report_zero_at_one_centroid(spark):
    """n_centroids=1 is the degenerate-exact SemDeDup: nothing can be
    cross-cell, so the measured miss rate is exactly 0."""
    from bitfilters_spark.operators.similarity import semdedup_miss_report

    df, _ = _corpus(spark, n=60)
    rep = semdedup_miss_report(
        df, "vec_id", "embedding", threshold=0.95,
        n_centroids=1, n_sample=1000,
    )
    assert rep["n_dup_pairs"] > 0
    assert rep["n_missed"] == 0 and rep["miss_rate"] == 0.0
