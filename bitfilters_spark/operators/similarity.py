"""Embedding similarity: exact cosine near-dup / top-k, and an LSH-bucketed
approximate variant as the huge-N scale path.

Exact path ("brute force done right"): instead of an n^2 row join with
per-row array arithmetic, the (small-side) query matrix is collected
once, L2-normalized, broadcast, and each Arrow batch of the corpus runs a
single numpy matmul against it in a ``mapInArrow`` scorer that keeps its
tie-safe local top-k (the shared engine in ``_vectors``) — BLAS-backed,
no shuffle of the big side at all. Corpus-vs-corpus near-dup packs
corpus blocks with ``applyInArrow`` and joins block pairs.

Approximate path: random-hyperplane signatures (sign bits of dot products
with broadcast Gaussian vectors) bucket the corpus; only same-bucket pairs
are scored.  This is the 100 TB ANN strategy (bucket shuffle only).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType

from . import _vectors as V


def cosine_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns (query_id, rank, neighbor_id). Rank orders by similarity desc
    with neighbor id as deterministic tiebreak. The corpus never shuffles:
    queries are broadcast, each Arrow batch emits its local top-k, and only
    the candidate rows reduce to the global top-k. An empty query set
    returns no rows."""
    got = V.collect_queries(queries, id_col, vec_col)
    if got is None:
        return V.empty_topk(df.sparkSession)
    qids, Q = got
    return V.score_topk(df.select(id_col, vec_col), qids, k, V.dot_kernel, Q)


def _pair_columns(a: np.ndarray, b: np.ndarray) -> dict:
    """Distinct (id_a < id_b) pairs of two aligned id arrays."""
    lo, hi = np.minimum(a, b), np.maximum(a, b)
    keep = lo < hi  # drop self (and same-id) pairs
    pairs = np.unique(np.stack([lo[keep], hi[keep]], axis=1), axis=0)
    return {"id_a": pairs[:, 0], "id_b": pairs[:, 1]}


def cosine_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_blocks: int = 8,
) -> DataFrame:
    """Exact all-pairs cosine >= threshold, (id_a < id_b) — DISTRIBUTED.

    All-pairs is inherently O(n^2) compute; the scale question is data
    movement. Rows are hashed into ``n_blocks`` blocks; each block's
    L2-normalized matrix is packed into ONE row (groupBy + applyInArrow),
    then the B*(B+1)/2 block pairs equi-join and each task runs one BLAS
    matmul. Nothing is collected to the driver and no side is broadcast
    whole: shuffle volume is ~n_blocks/2 copies of the corpus (the classic
    triangle-join replication), each executor only ever holds two blocks.
    Tune ``n_blocks`` ~ sqrt(2 * #executors) at scale so every core gets a
    block pair while replication stays minimal. For corpora too large even
    for that, :func:`lsh_bucket_pairs` is the approximate bucketed path.
    """
    spark = df.sparkSession
    pack_schema = "bid long, ids binary, mat binary, n long"

    def pack(t: pa.Table) -> pa.Table:
        ids = V.ids(t.column(id_col))
        mat = V.normalize(V.matrix(t.column(vec_col)))
        return pa.Table.from_pydict(
            {
                "bid": [t.column("__bid")[0].as_py()],
                "ids": [ids.tobytes()],
                "mat": [mat.astype("<f8").tobytes()],
                "n": [len(ids)],
            },
            schema=pa.schema([("bid", pa.int64()), ("ids", pa.binary()),
                              ("mat", pa.binary()), ("n", pa.int64())]),
        )

    blocks = (
        df.select(
            F.col(id_col),
            F.col(vec_col),
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).alias("__bid"),
        )
        .groupBy("__bid")
        .applyInArrow(pack, schema=pack_schema)
        .cache()  # joined twice (bid_a / bid_b side); one packed copy of the corpus
    )

    pair_ids = [(a, b) for a in range(n_blocks) for b in range(a, n_blocks)]
    pairs = spark.createDataFrame(pair_ids, "bid_a long, bid_b long")
    joined = (
        pairs.join(blocks.select(F.col("bid").alias("bid_a"),
                                 F.col("ids").alias("ids_a"),
                                 F.col("mat").alias("mat_a"),
                                 F.col("n").alias("n_a")), "bid_a")
        .join(blocks.select(F.col("bid").alias("bid_b"),
                            F.col("ids").alias("ids_b"),
                            F.col("mat").alias("mat_b"),
                            F.col("n").alias("n_b")), "bid_b")
        .repartition(len(pair_ids))  # one matmul task per block pair
    )

    def matmul(batches):
        for b in batches:
            cols = b.to_pydict()
            for ia, ib, ma, mb, na, nb in zip(
                cols["ids_a"], cols["ids_b"], cols["mat_a"], cols["mat_b"],
                cols["n_a"], cols["n_b"],
            ):
                A = np.frombuffer(ma, dtype="<f8").reshape(na, -1)
                Bm = np.frombuffer(mb, dtype="<f8").reshape(nb, -1)
                ai, bj = np.nonzero(A @ Bm.T >= threshold)
                if len(ai):
                    yield pa.RecordBatch.from_pydict(_pair_columns(
                        np.frombuffer(ia, dtype=np.int64)[ai],
                        np.frombuffer(ib, dtype=np.int64)[bj],
                    ))

    return joined.mapInArrow(matmul, schema="id_a long, id_b long")


def ivf_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    n_centroids: int = 64,
    sample_rows: int = 20_000,
    iters: int = 10,
    seed: int = 42,
) -> np.ndarray:
    """Coarse quantizer for IVF: k-means on a BOUNDED sample (driver-side
    numpy on <= sample_rows vectors — the only driver materialization, and
    it is O(sample), not O(corpus)). Returns L2-normalized centroids."""
    X = V.sample(df, vec_col, sample_rows, seed)
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)]
    for _ in range(iters):
        assign = V.nearest(X, C)
        for c in range(len(C)):
            m = assign == c
            if m.any():
                v = X[m].mean(axis=0)
                C[c] = v / max(np.linalg.norm(v), 1e-12)
    return C


def save_ivf_index(centroids: np.ndarray, path: str) -> None:
    """Persist a coarse quantizer so repeated ANN sessions skip the
    k-means pass (the index of a 100 TB embedding store is trained once
    at ingest and reused by every query session). Plain .npy file —
    centroids are driver-side metadata (n_centroids x dim floats)."""
    np.save(path if path.endswith(".npy") else path + ".npy", centroids)


def load_ivf_index(path: str) -> np.ndarray:
    return np.load(path if path.endswith(".npy") else path + ".npy")


def ivf_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 64,
    nprobe: int = 8,
    seed: int = 42,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF approximate top-k: corpus rows are assigned to their nearest
    centroid cell (one mapInArrow pass, centroids broadcast); each query
    scans only its ``nprobe`` nearest cells. The broadcast cell join is
    the only join — candidate volume is ~corpus * nprobe / n_centroids
    instead of the full corpus per query. The probe, scorer and rank
    window are the ones `ann_index.AnnProbe.query` runs over the stored
    cells. nprobe == n_centroids degrades to exact brute force (recall
    1.0), which the tests exploit. Pass ``centroids`` (from
    :func:`load_ivf_index`) to reuse a trained quantizer and skip the
    k-means pass entirely. An empty query set returns no rows."""
    got = V.collect_queries(queries, id_col, vec_col)
    if got is None:
        return V.empty_topk(df.sparkSession)
    qids, Q = got
    C = np.asarray(
        centroids if centroids is not None
        else ivf_centroids(df, vec_col, n_centroids, seed=seed),
        dtype=np.float64,
    )
    return V.probe_topk(
        V.route(df, id_col, vec_col, C), qids, Q, C, nprobe, k, V.cell_kernel, Q
    )


def quantize_int8(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|e_i| (so the
    range maps onto [-127, 127]), q_i = floor(e_i/scale*127 + 0.5).

    The 4x storage cut for 100 TB embedding stores, as pure JVM array
    expressions (no UDF). Arithmetic is done in DOUBLE with explicit
    half-up rounding so any engine reproduces the codes bit-for-bit;
    reconstruction is q_i * scale / 127.
    """
    v = F.col(vec_col)
    scale = F.greatest(
        F.array_max(F.transform(v, lambda x: F.abs(x.cast("double")))),
        F.lit(1e-12),
    )
    out = df.withColumn("__scale", scale)
    # __scale must be referenced TWICE here: with a single reference,
    # CollapseProject inlines the O(d) array_max reduction into the
    # per-element lambda once a downstream select prunes the scale
    # column, turning this projection into O(d^2) interpreted work per
    # row (and the driver query's three aggregates re-evaluate it 3x).
    # The when() guard is semantically a no-op (greatest pins scale
    # >= 1e-12) but pins the reference count.
    q = F.when(
        F.col("__scale") > 0,
        F.transform(
            v,
            lambda x: F.floor(
                x.cast("double") / F.col("__scale") * 127.0 + F.lit(0.5)
            ).cast("int"),
        ),
    )
    return out.select(
        F.col(id_col),
        F.col("__scale").alias("scale"),
        q.alias("qvec"),
    )


def lsh_bucket_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_planes: int = 16,
    n_tables: int = 4,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Approximate near-dup: random-hyperplane LSH bucketing, then exact
    cosine verification within buckets only (bucket-join shuffle, no n^2)."""
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_tables, n_planes, dim))
    bc = df.sparkSession.sparkContext.broadcast(planes)

    def signatures(batches):
        pl = bc.value
        for b in batches:
            if not b.num_rows:
                continue
            ids = V.ids(b.column(0))
            mat = V.matrix(b.column(1))
            buckets = []
            for t in range(pl.shape[0]):
                bits = (mat @ pl[t].T) > 0  # (rows, n_planes)
                bucket = np.zeros(len(ids), dtype=np.int64)
                for p in range(pl.shape[1]):
                    bucket |= bits[:, p].astype(np.int64) << p
                buckets.append(bucket)
            yield pa.RecordBatch.from_pydict({
                "id": np.tile(ids, pl.shape[0]),
                "table": np.repeat(np.arange(pl.shape[0], dtype=np.int64), len(ids)),
                "bucket": np.concatenate(buckets),
            })

    sig = df.select(id_col, vec_col).mapInArrow(
        signatures, schema="id long, table long, bucket long"
    )
    a, b = sig.alias("a"), sig.alias("b")
    cands = (
        a.join(b, ["table", "bucket"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v)
    )
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos", dot / (norm(F.col("va")) * norm(F.col("vb"))))
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b")
    )


# ------------------------------------------------------------- semdedup ---


def semantic_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_centroids: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Within-cluster cosine pairs >= threshold — the candidate step of
    SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means the
    embeddings with the bounded-sample coarse quantizer
    (:func:`ivf_centroids`, broadcast), then compare ONLY rows sharing a
    cell. Pair volume drops from n^2 to ~sum(cell_size^2) ≈ n^2 /
    n_centroids; cross-cell near-dups are missed by design (the SemDeDup
    approximation).

    One cell-key shuffle; each cell's similarity matrix is one BLAS
    matmul in its own task. SKEW NOTE: a pathologically popular cell
    (many near-identical embeddings) serializes into one task — raise
    ``n_centroids`` (cells shrink ~linearly) or pre-thin with
    :func:`lsh_bucket_pairs` if that profile is expected.
    """
    C = ivf_centroids(df, vec_col, n_centroids, seed=seed)
    cells = V.route(df, id_col, vec_col, C)

    def within(t: pa.Table) -> pa.Table:
        ids = V.ids(t.column("id"))
        mat = V.matrix(t.column("vec"))
        ai, bj = np.nonzero(np.triu(mat @ mat.T >= threshold, k=1))
        return pa.Table.from_pydict(_pair_columns(ids[ai], ids[bj]))

    return cells.groupBy("cell").applyInArrow(within, schema="id_a long, id_b long")


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_centroids: int = 64,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup: drop all but one representative of every within-cluster
    semantic-duplicate group. Pairs from :func:`semantic_dup_pairs` are
    closed into components (transitive semantic duplicates) and the
    lowest id per component survives; rows with no >= threshold
    within-cell neighbor all survive. Returns the surviving
    ``(id_col,)`` rows — join back to the corpus to materialize.
    """
    from .clustering import connected_components

    pairs = semantic_dup_pairs(df, id_col, vec_col, threshold, n_centroids, seed)
    comp = connected_components(pairs)
    losers = comp.where(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.select(id_col).join(losers, id_col, "left_anti")


def semdedup_miss_report(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_centroids: int = 64,
    n_sample: int = 2000,
    seed: int = 42,
    centroids: np.ndarray | None = None,
) -> dict:
    """Measured cross-cell miss rate of a SemDeDup configuration BEFORE
    the full run — the `lsh_recall_report` / `ann_recall_report` twin
    for the one approximation `semantic_dup_pairs` makes (pairs split
    across coarse cells are never compared).

    On a deterministic hash-sample of ``n_sample`` rows: exact duplicate
    pairs come from the distributed brute-force `cosine_neardup_pairs`
    (no cells involved), cells come from the SAME quantizer assignment
    the dedup uses (`_vectors.route` over `ivf_centroids` trained on the
    FULL corpus — the cells a real run would produce, unless explicit
    ``centroids`` are passed), and every exact pair whose members land
    in different cells is a measured miss.

    Returns ``{n_sample, n_dup_pairs, n_missed, miss_rate,
    n_centroids}`` — ``miss_rate`` is the fraction of true >= threshold
    pairs a full SemDeDup at this ``n_centroids`` would not see; lower
    ``n_centroids`` (bigger cells) drives it toward 0 at quadratic
    pair-volume cost, the trade this report prices with data instead of
    hope."""
    n = df.count()
    frac = min(1.0, (4.0 * n_sample) / max(n, 1))
    sample = (
        df.where(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(1 << 20))
            < int((1 << 20) * frac)
        )
        .limit(n_sample)
        .select(id_col, vec_col)
        .cache()
    )
    ns = sample.count()
    truth = cosine_neardup_pairs(sample, id_col, vec_col, threshold)
    C = (
        centroids
        if centroids is not None
        else ivf_centroids(df, vec_col, n_centroids, seed=seed)
    )
    cells = V.route(sample, id_col, vec_col, C).select("id", "cell")
    marked = (
        truth.join(cells.withColumnsRenamed({"id": "id_a", "cell": "cell_a"}), "id_a")
        .join(cells.withColumnsRenamed({"id": "id_b", "cell": "cell_b"}), "id_b")
        .select((F.col("cell_a") != F.col("cell_b")).alias("missed"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("missed").cast("long")).alias("n_missed"),
        )
        .collect()[0]
    )
    sample.unpersist()
    n_pairs = int(marked["n_pairs"])
    n_missed = int(marked["n_missed"] or 0)
    return {
        "n_sample": ns,
        "n_dup_pairs": n_pairs,
        "n_missed": n_missed,
        "miss_rate": (n_missed / n_pairs) if n_pairs else None,
        "n_centroids": int(n_centroids) if centroids is None else len(C),
    }


# ------------------------------------------------------------------ PCA ---


def embedding_moments(df: DataFrame, vec_col: str):
    """(n, sum_vec d, gram d×d) accumulated distributedly: each partition
    reduces its rows to ONE (count, Σx, ΣxxT) partial inside a numpy
    mapInArrow kernel (BLAS X.T@X per Arrow batch), and the driver sums
    the per-partition partials — P × (d² + d + 1) floats collected, never
    rows. d=64 ⇒ ~33 KB per partition: metadata-scale by construction."""

    def partials(batches):
        n, s, g = 0, None, None
        for b in batches:
            if not b.num_rows:
                continue
            X = V.matrix(b.column(0))
            n += X.shape[0]
            s = X.sum(0) if s is None else s + X.sum(0)
            gg = X.T @ X
            g = gg if g is None else g + gg
        if n:
            yield pa.RecordBatch.from_pydict(
                {"n": [n], "s": [s.tolist()], "g": [g.ravel().tolist()]}
            )

    schema = "n long, s array<double>, g array<double>"
    parts = df.select(vec_col).mapInArrow(partials, schema).collect()
    if not parts:
        raise ValueError("empty input")
    n = sum(r["n"] for r in parts)
    s = np.sum([np.asarray(r["s"]) for r in parts], axis=0)
    d = s.shape[0]
    g = np.sum([np.asarray(r["g"]).reshape(d, d) for r in parts], axis=0)
    return n, s, g


def fit_pca(df: DataFrame, vec_col: str, k: int, center: bool = True) -> dict:
    """PCA over an embedding column, Spark-first: ONE pass computes the
    (n, Σx, ΣxxT) moments (see `embedding_moments` — the corpus never
    leaves the executors), the d×d covariance eigendecomposes on the
    driver (d is embedding width, tiny), and the top-k components come
    back sign-canonicalized (largest-|coef| coordinate positive) so the
    fit is deterministic up to float-sum ordering. Returns {"mean",
    "components" k×d, "explained_variance", "total_variance"}."""
    n, s, g = embedding_moments(df, vec_col)
    return pca_from_moments(n, s, g, k, center)


def pca_from_moments(n: int, s, g, k: int, center: bool = True) -> dict:
    """The driver-side half of `fit_pca`, split out because moments are
    ADDITIVE — partials from separate corpora, partitions, or stream
    micro-batches sum component-wise, so this same eigensolve serves the
    batch fit, cross-corpus combination, and `streaming/pca.py`."""
    s, g = np.asarray(s, dtype="float64"), np.asarray(g, dtype="float64")
    mean = s / n
    cov = g / n - (np.outer(mean, mean) if center else 0.0)
    cov = (cov + cov.T) / 2.0  # symmetrize float noise
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T.copy()
    for i in range(comps.shape[0]):  # canonical sign
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return {
        "mean": mean if center else np.zeros_like(mean),
        "components": comps,
        "explained_variance": vals[order],
        "total_variance": float(vals.sum()),
    }


def project_embeddings(
    df: DataFrame, id_col: str, vec_col: str, model: dict, out_col: str = "pca"
) -> DataFrame:
    """(id, out_col array<double>) — embeddings projected onto the fitted
    components: one BLAS matmul per Arrow batch ((X-μ) @ Wᵀ), components
    ship via the task closure (k×d floats). The cheap front half of a
    reduce-then-ANN pipeline: project to k dims, then `cosine_topk` /
    `ivf_topk` on vectors k/d the size."""
    mean = np.asarray(model["mean"], dtype="float64")
    comps = np.asarray(model["components"], dtype="float64")

    @F.pandas_udf(ArrayType(DoubleType()))
    def proj(v: pd.Series) -> pd.Series:
        X = np.stack(v.values).astype("float64")
        Y = (X - mean) @ comps.T
        return pd.Series(list(Y))

    return df.select(F.col(id_col), proj(F.col(vec_col)).alias(out_col))


def ann_recall_report(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_centroids: int = 64,
    nprobe: int = 8,
    n_queries: int = 50,
    seed: int = 42,
    centroids: np.ndarray | None = None,
) -> dict:
    """Empirical validation of an IVF configuration BEFORE committing a
    full run to it — the ANN twin of `dedup.lsh_recall_report`: on a
    deterministic hash-sample of ``n_queries`` query vectors, compare
    `ivf_topk`'s neighbors against exact brute-force `cosine_topk`
    ground truth over the SAME corpus.

    Returns ``{n_queries, recall_at_k (fraction of true top-k found),
    top1_match_rate, scan_fraction (nprobe/n_centroids — the cost you
    pay relative to brute force)}``. Recall here is the real quantity a
    100 TB run trades against `scan_fraction`; raise ``nprobe`` until
    the measured recall clears the bar (nprobe == n_centroids is
    provably 1.0 — the degenerate-exact case the unit tests pin)."""
    q = (
        df.where(F.pmod(F.xxhash64(F.col(id_col)), F.lit(1 << 20))
                 < int((1 << 20) * min(1.0, 4.0 * n_queries / max(df.count(), 1))))
        .limit(n_queries)
        .select(id_col, vec_col)
        .cache()
    )
    nq = q.count()
    truth = cosine_topk(df, q, id_col, vec_col, k).select(
        F.col("query_id"), F.col("neighbor_id")
    )
    approx = ivf_topk(
        df, q, id_col, vec_col, k, n_centroids, nprobe, seed, centroids
    ).select(F.col("query_id"), F.col("neighbor_id"))
    n_true = truth.count()
    n_hit = truth.join(approx, ["query_id", "neighbor_id"]).count()
    top1_true = cosine_topk(df, q, id_col, vec_col, 1).select("query_id", "neighbor_id")
    top1_goti = ivf_topk(df, q, id_col, vec_col, 1, n_centroids, nprobe, seed, centroids)
    t1 = top1_true.join(
        top1_goti.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
    ).count()
    q.unpersist()
    return {
        "n_queries": nq,
        "recall_at_k": (n_hit / n_true) if n_true else None,
        "top1_match_rate": (t1 / nq) if nq else None,
        "scan_fraction": nprobe / n_centroids,
    }


# --------------------------------------------------------------------------
# product quantization (PQ) — memory-bounded ANN codes
# --------------------------------------------------------------------------
#
# Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
# Search" (TPAMI 2011): split each d-dim vector into m subvectors,
# k-means each subspace to <= 256 centroids, store one byte per
# subspace. A 768-dim float64 corpus compresses 6144 -> m bytes/vector
# (m=8: 768x), which is what lets a 100 TB embedding store's CODES fit
# a fraction of cluster memory while the raw vectors stay in parquet.
# Query scoring is ADC (asymmetric distance computation): one (m x 256)
# dot-product lookup table per query, then each candidate costs m table
# lookups — no float vector is touched at scan time.


def train_pq(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    n_codes: int = 256,
    sample_rows: int = 20_000,
    iters: int = 10,
    seed: int = 42,
) -> dict:
    """Train PQ codebooks on a BOUNDED deterministic sample (driver-side
    numpy on <= sample_rows vectors, like :func:`ivf_centroids` — O(sample),
    never O(corpus)). Vectors are L2-normalized first so ADC dot-product
    sums rank identically to cosine similarity.

    k-means init deduplicates subvectors before choosing seeds, which
    gives the exact regime the tests pin: when a subspace has <= n_codes
    DISTINCT subvectors, every one becomes (and stays) its own centroid,
    encoding is lossless, and `pq_topk` == `cosine_topk` exactly.

    Returns {"codebooks": (m, n_codes_eff, d/m) float64, "m", "d"}."""
    if not 1 <= n_codes <= 256:
        raise ValueError("n_codes must be in [1, 256] (codes are one byte)")
    X = V.sample(df, vec_col, sample_rows, seed)
    if not len(X):
        raise ValueError("train_pq: empty input")
    return {"codebooks": train_pq_books(X, m, n_codes, iters, seed),
            "m": m, "d": X.shape[1]}


def train_pq_books(
    X: np.ndarray, m: int, n_codes: int, iters: int = 10, seed: int = 42
) -> np.ndarray:
    """The PQ k-means core on a PREPARED sample matrix (no normalization
    — :func:`train_pq` normalizes raw vectors before calling this;
    `ann_index.build_ivfpq_index` feeds RESIDUALS, which must stay
    unnormalized). Returns (m, k_eff, d/m) float64 codebooks."""
    d = X.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    rng = np.random.default_rng(seed)
    books = []
    for s in range(m):
        Xs = X[:, s * dsub : (s + 1) * dsub]
        uniq = np.unique(Xs, axis=0)
        C = uniq[rng.choice(len(uniq), size=min(n_codes, len(uniq)), replace=False)]
        for _ in range(iters):
            assign = V.nearest_l2(Xs, C)
            for c in range(len(C)):
                mask = assign == c
                if mask.any():
                    C[c] = Xs[mask].mean(axis=0)
        books.append(C)
    k_eff = max(len(b) for b in books)
    # pad ragged books (a subspace with < n_codes distinct values) by
    # repeating the last centroid — unreachable codes, harmless in ADC
    return np.stack(
        [np.vstack([b, np.repeat(b[-1:], k_eff - len(b), 0)]) for b in books]
    )


def pq_encode(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    model: dict | None = None,
) -> DataFrame:
    """(id, code binary) — m bytes per vector, the persisted-index form.
    One mapInArrow pass, codebooks broadcast; vectors normalized with
    the same convention the trainer used."""
    return V.encode(df, id_col, vec_col, model["codebooks"]).withColumnRenamed(
        "id", id_col
    )


def pq_topk(
    codes: DataFrame,
    queries: DataFrame,
    model: dict,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Approximate top-k over PQ codes via ADC: per query, one (m x
    n_codes) dot-product lookup table against the codebooks; each
    candidate row costs m byte-indexed lookups — the corpus's float
    vectors are never read. (query_id, rank, neighbor_id), ranked by
    reconstructed cosine with neighbor id tiebreak, self-matches
    excluded — the same contract as :func:`cosine_topk`, which it equals
    exactly in the lossless-codebook regime. The compact queries and
    codebooks are broadcast and each task derives the lookup tables."""
    got = V.collect_queries(queries, id_col, vec_col)
    if got is None:
        return V.empty_topk(codes.sparkSession)
    qids, Q = got
    cb = np.asarray(model["codebooks"], dtype=np.float64)
    return V.score_topk(codes.select(id_col, "code"), qids, k, V.adc_kernel, (Q, cb))


def save_pq_index(model: dict, path: str) -> None:
    """Codebooks are driver-side metadata (m x n_codes x d/m floats,
    ~0.5 MB at d=768/m=8) — same .npz convention as the IVF index."""
    np.savez(
        path if path.endswith(".npz") else path + ".npz",
        codebooks=model["codebooks"],
        m=np.int64(model["m"]),
        d=np.int64(model["d"]),
    )


def load_pq_index(path: str) -> dict:
    z = np.load(path if path.endswith(".npz") else path + ".npz")
    return {"codebooks": z["codebooks"], "m": int(z["m"]), "d": int(z["d"])}


def pq_recall_report(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    m: int = 8,
    n_codes: int = 256,
    n_queries: int = 50,
    seed: int = 42,
    model: dict | None = None,
) -> dict:
    """The PQ twin of :func:`ann_recall_report`: measured recall@k and
    top-1 match rate of ADC scoring vs exact cosine on a deterministic
    query sample, plus the compression the codes buy. Validate (m,
    n_codes) BEFORE encoding the full store."""
    pq = model or train_pq(df, vec_col, m, n_codes, seed=seed)
    q = (
        df.where(F.pmod(F.xxhash64(F.col(id_col)), F.lit(1 << 20))
                 < int((1 << 20) * min(1.0, 4.0 * n_queries / max(df.count(), 1))))
        .limit(n_queries)
        .select(id_col, vec_col)
        .cache()
    )
    nq = q.count()
    codes = pq_encode(df, id_col, vec_col, pq)
    truth = cosine_topk(df, q, id_col, vec_col, k).select("query_id", "neighbor_id")
    approx = pq_topk(codes, q, pq, id_col, vec_col, k).select(
        "query_id", "neighbor_id"
    )
    n_true = truth.count()
    n_hit = truth.join(approx, ["query_id", "neighbor_id"]).count()
    t1_true = cosine_topk(df, q, id_col, vec_col, 1).select("query_id", "neighbor_id")
    t1_goti = pq_topk(codes, q, pq, id_col, vec_col, 1)
    t1 = t1_true.join(
        t1_goti.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
    ).count()
    q.unpersist()
    return {
        "n_queries": nq,
        "recall_at_k": (n_hit / n_true) if n_true else None,
        "top1_match_rate": (t1 / nq) if nq else None,
        "bytes_per_vector": pq["m"],
        "compression_x": (pq["d"] * 8) / pq["m"],
    }


# --------------------------------------------------------------------------
# binary (1-bit) embedding signatures — Hamming-space coarse ANN
# --------------------------------------------------------------------------
#
# The modern binary-embedding trade (sign quantization; Charikar 2002's
# SRP hyperplanes degenerate to the coordinate axes when the embedding
# model is trained for it, which is how production binary-embedding
# APIs ship): one BIT per dimension, so a 64-dim float64 vector becomes
# 8 bytes (64x) and candidate scoring is XOR+popcount instead of a
# float dot product. Unlike PQ/IVF this path is EXACT integer
# arithmetic end-to-end — a SQL engine replays signature packing and
# Hamming ranking bit-for-bit, which is what puts an ANN family under
# the zero-tolerance driver gate (q_ann_topk ham legs).


def binary_signatures(
    df: DataFrame,
    vec_col: str = "embedding",
    sig_col: str = "sig",
) -> DataFrame:
    """Adds ``sig_col``: array<long> of 32-bit words, word w packing
    dimensions [32w, 32w+32) as sign bits — bit (i−32w) set iff
    ``vec[i] > 0`` (ties at exactly 0.0 pack as 0 in every engine).

    32-bit words, not 64: DuckDB's ``<<`` range-errors at shift 63, and
    sub-32 shifts are portable everywhere — the price is one extra
    array slot per 32 dims, invisible next to the 64x size cut. Pure
    higher-order JVM expressions (a descending ``aggregate`` fold per
    word: acc·2 + bit — multiplication caps at 2^32, no overflow under
    ANSI); no UDF, no shuffle, scan-speed. Degenerate inputs follow the
    column algebra: an EMPTY vector packs to an empty signature (the
    `hashed_word_shingles` descending-sequence guard class — without it
    ``sequence(0, -1)`` would DESCEND and the fold would crash the
    job), a NULL vector to a NULL signature."""
    v = F.col(vec_col)
    last_word = F.floor((F.size(v) - 1) / 32).cast("int")

    def word(w):
        hi = F.least(w * 32 + 31, F.size(v) - 1)
        return F.aggregate(
            F.sequence(hi, w * 32, F.lit(-1)),
            F.lit(0).cast("long"),
            lambda acc, i: acc * 2
            + F.when(F.element_at(v, i + 1) > 0, F.lit(1))
            .otherwise(F.lit(0))
            .cast("long"),
        )

    return df.withColumn(
        sig_col,
        F.when(F.size(v) < 1, F.array().cast("array<long>")).otherwise(
            F.transform(F.sequence(F.lit(0), last_word), word)
        ),
    )


def hamming_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    max_queries: int = 100_000,
) -> DataFrame:
    """(query_id, rank, neighbor_id, hamming) — top-k nearest corpus
    rows per query by Hamming distance over the sign signatures
    (ascending; neighbor id breaks ties deterministically), self-matches
    excluded. The same contract as :func:`cosine_topk` with an integer
    score — exact cross-engine.

    Plan: queries broadcast against the corpus signature stream (the
    brute-force binary scan IS the point — XOR+popcount over 2 longs is
    ~64x cheaper per candidate than the float dot product, so the scan
    that was the cosine baseline's bottleneck becomes the cheap coarse
    pass); one per-query top-k window over candidates. At billion-row
    scale compose with the IVF cell routing (`ann_index`) to bound the
    candidate stream first, then re-rank the Hamming survivors with
    exact cosine — the standard two-stage shape (packaged as
    :func:`hamming_rerank_topk`).

    `queries` is broadcast, so it must stay driver-scale: the
    `max_queries` fail-fast (the `ann_query_index` convention) raises
    loudly instead of letting a corpus-sized query frame OOM the
    broadcast."""
    _check_query_count(queries, max_queries, "hamming_topk")
    c = binary_signatures(df, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("sig").alias("__sc")
    )
    q = binary_signatures(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("sig").alias("__sq")
    )
    return _hamming_rank(c, q, k)


def _check_query_count(queries: DataFrame, max_queries: int, who: str) -> None:
    if queries.limit(max_queries + 1).count() > max_queries:
        raise ValueError(
            f"{who} broadcasts the query side, which exceeds "
            f"max_queries={max_queries} rows; batch the query set, or "
            "raise max_queries consciously."
        )


def _hamming_rank(c: DataFrame, q: DataFrame, k: int) -> DataFrame:
    """The Hamming scan core over prepared signature frames —
    c: (neighbor_id, __sc), q: (query_id, __sq, small/broadcastable).
    Shared by `hamming_topk` (in-session signatures) and the persisted
    signature index probe (`ann_index.sig_query_index`), so the two can
    never diverge arithmetically."""
    ham = F.aggregate(
        F.zip_with(
            "__sq",
            "__sc",
            lambda a, b: F.bit_count(a.bitwiseXOR(b)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pairs = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("hamming", ham)
        .drop("__sc", "__sq")
        # NULL sigs (NULL embedding) and dimension mismatches (zip_with
        # NULL-pads the shorter signature) yield NULL hamming — drop
        # them, else asc ordering (NULLS FIRST) would crown a NULL row
        # rank 1 for every query
        .where(F.col("hamming").isNotNull())
    )
    return V.rank_window(pairs, k, F.col("hamming").asc(), "hamming")


def hamming_rerank_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    overfetch: int = 4,
    max_queries: int = 100_000,
) -> DataFrame:
    """(query_id, rank, neighbor_id, score) — the standard two-stage
    ANN shape packaged as ONE operator (r14, VERDICT r13 missing #3):
    a cheap Hamming coarse pass over the 8-byte sign signatures keeps
    ``k * overfetch`` survivors per query, then the survivors' FLOAT
    vectors are re-fetched from the corpus and re-ranked by exact
    cosine. The re-fetch is the step users hand-roll wrong (re-ranking
    signature bits re-orders nothing); here it is one broadcast join of
    the survivor pair list back onto the corpus scan, so the full float
    read is bounded by nq * k * overfetch rows — never the corpus.

    ``overfetch`` is the recall knob: recall vs :func:`cosine_topk` is
    monotone in it (candidate sets are nested supersets), and once the
    coarse pass covers the corpus the result EQUALS `cosine_topk` row
    for row (same desc-score, neighbor-id tie order). Scoring is pure
    JVM (`zip_with` dot + norms, zero-norm guarded like `cosine_topk`).
    At billion-row scale route cells first (`ann_index`) and feed each
    cell's stream through the same two stages."""
    coarse = hamming_topk(
        df, queries, id_col, vec_col, k=k * overfetch,
        max_queries=max_queries,
    ).select("query_id", "neighbor_id")
    nvec = df.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__nv")
    )
    qvec = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    return _cosine_rerank(coarse, nvec, qvec, k)


def _cosine_rerank(
    coarse: DataFrame, nvec: DataFrame, qvec: DataFrame, k: int
) -> DataFrame:
    """Exact-cosine re-rank of a coarse survivor list — coarse:
    (query_id, neighbor_id), nvec: (neighbor_id, __nv), qvec:
    (query_id, __qv, driver-scale). Shared by `hamming_rerank_topk`
    (in-session) and the signature index probe, identical arithmetic."""
    scored = (
        # survivor list is nq*k*overfetch rows -> broadcast it into the
        # corpus scan; the query side is already driver-scale
        nvec.join(F.broadcast(coarse), "neighbor_id")
        .join(F.broadcast(qvec), "query_id")
        .withColumn(
            "score", _jvm_cosine(F.col("__qv"), F.col("__nv"))
        )
        .drop("__qv", "__nv")
    )
    return V.rank_window(scored, k, F.col("score").desc(), "score")


def _jvm_cosine(a, b):
    """Cosine of two array columns as JVM higher-order expressions (a
    zero-norm side counts as norm 1, so it scores 0)."""

    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda u, v: u * v), F.lit(0.0), lambda acc, u: acc + u
        )

    def norm(v):
        n = F.sqrt(dot(v, v))
        return F.when(n == 0.0, F.lit(1.0)).otherwise(n)

    return dot(a, b) / (norm(a) * norm(b))


def chain_order_within_cells(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 64,
    max_cell: int = 4096,
    seed: int = 42,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """(id, cell, chain_pos) — the in-context-pretraining ORDER (Shi et
    al. 2023 §2: packing a context window with documents that follow a
    nearest-neighbor CHAIN beats both random order and plain
    clustering, because each document's left-context is its nearest
    available neighbor, not just a same-cluster sibling).
    `pack_shards(order_cols=["cell", "chain_pos"])` (#155) consumes
    this directly — #155 gives same-CLUSTER adjacency, this gives
    nearest-NEIGHBOR adjacency inside each cluster.

    Shape: the coarse quantizer routes vectors to cells (the `ivf_topk`
    router — one mapInArrow, centroids broadcast), then
    ONE `applyInArrow` per (cell, block) runs the greedy chain: start
    at the lowest id (deterministic), repeatedly hop to the most-
    cosine-similar unvisited vector (ties resolve to the lowest id).
    The chain is inherently sequential but only ever WITHIN a block, so
    the global shape is embarrassingly parallel with O(k²) vectorized
    work per block. ``max_cell`` is the skew guard: a cell larger than
    it splits into contiguous-id blocks of ≤ max_cell, each chained
    independently (local coherence kept, the quadratic bounded — block
    boundaries cost one cold transition each, exactly the cluster-
    boundary cost #155 already accepts); ``chain_pos`` stays monotonic
    across a cell's blocks (block b starts at b·max_cell). No RNG
    anywhere — deterministic under repartitioning."""
    from pyspark.sql import Window

    if max_cell < 1:
        raise ValueError("max_cell must be >= 1")
    C = centroids if centroids is not None else ivf_centroids(
        df, vec_col, n_centroids, seed=seed
    )
    routed = V.route(df, id_col, vec_col, C)
    wcell = Window.partitionBy("cell").orderBy("id")
    routed = routed.withColumn(
        "blk", ((F.row_number().over(wcell) - 1) / F.lit(max_cell)).cast("long")
    )

    def chain(t: pa.Table) -> pa.Table:
        ids = V.ids(t.column("id"))
        mat = V.matrix(t.column("vec"))
        order = np.argsort(ids)
        ids, mat = ids[order], mat[order]
        n = len(ids)
        pos = np.empty(n, dtype=np.int64)
        visited = np.zeros(n, dtype=bool)
        cur = 0  # lowest id starts the chain
        for step in range(n):
            visited[cur] = True
            pos[cur] = step
            if step == n - 1:
                break
            sims = mat @ mat[cur]
            sims[visited] = -np.inf
            # ids are sorted, so argmax's first-maximal IS the lowest id
            cur = int(np.argmax(sims))
        base = t.column("blk")[0].as_py() * max_cell
        return pa.Table.from_pydict({
            "id": ids,
            "cell": np.full(n, t.column("cell")[0].as_py(), dtype=np.int64),
            "chain_pos": pos + base,
        })

    return (
        routed.groupBy("cell", "blk")
        .applyInArrow(chain, schema="id long, cell long, chain_pos long")
        .withColumnRenamed("id", id_col)
    )


def pq_code_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    model: dict | None = None,
    verify_threshold: float | None = None,
) -> DataFrame:
    """(id_a, id_b[, cosine]) — embedding near-duplicate candidates at
    PQ-CODE granularity (SemDeDup's observation priced at m BYTES per
    vector): two vectors with an IDENTICAL m-byte code quantize to the
    same centroid in all m subspaces, which at sensible codebook sizes
    only near-duplicates do. The candidate step is ONE groupBy on the
    code (an m-byte shuffle key — no banding, no self-join, no float
    math); within a group every member pairs against the group's MIN-id
    representative — g−1 pairs, never the O(g²) all-pairs, so a 10^6-
    copy boilerplate embedding yields 10^6−1 pairs against one winner
    instead of a task-killing square.

    ``verify_threshold`` re-fetches the float vectors for pair members
    only (bounded by the pair list, never the corpus) and keeps exact
    cosine >= threshold — the guard against coarse codebooks collapsing
    merely-close vectors. Codes come from :func:`pq_encode` under
    ``model`` (:func:`train_pq`); reuse one model across runs so code
    identity is stable."""
    codes = pq_encode(df, id_col, vec_col, model).select(
        F.col(id_col).alias("id"), "code"
    )
    winners = codes.groupBy("code").agg(F.min("id").alias("id_a"))
    pairs = (
        codes.join(winners, "code")
        .where(F.col("id") != F.col("id_a"))
        .select("id_a", F.col("id").alias("id_b"))
    )
    if verify_threshold is None:
        return pairs
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", _jvm_cosine(F.col("__va"), F.col("__vb")))
        .where(F.col("cosine") >= verify_threshold)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


def pq_code_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    model: dict | None = None,
    verify_threshold: float | None = None,
) -> DataFrame:
    """``df`` with every non-winner member of a PQ-code near-dup group
    dropped (keep min id per code — the corpus-wide winner convention;
    with ``verify_threshold`` only exact-cosine-verified members drop).
    The cheapest embedding dedup in the repo: one code groupBy at
    m bytes/vector vs SemDeDup's per-cell similarity matrices."""
    hits = pq_code_neardup_pairs(
        df, id_col, vec_col, model, verify_threshold
    ).select(F.col("id_b").alias(id_col)).distinct()
    return df.join(hits, id_col, "left_anti")


def nn_descent_graph(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    iters: int = 3,
    sample_pct: int = 100,
    init_buckets: int = 32,
    seed: int = 42,
) -> DataFrame:
    """(id, nbr, sim, rank) — approximate cosine kNN GRAPH over the whole
    corpus via NN-Descent (Dong, Moses & Li, WWW 2011).

    The all-pairs-k complement of the query-style ANN families
    (:func:`cosine_topk` answers "neighbors of THESE queries";
    this answers "every node's neighbors at once" — the input to kNN-graph
    clustering, graph-based dedup sweeps, and HNSW-style index seeding).
    Brute force is O(n^2); NN-Descent converges on real data in a few
    iterations of "my neighbors' neighbors are probably my neighbors",
    touching only ~(2k)^2 candidates per node per iteration.

    Spark shape — every step is a DataFrame op, nothing collects:

    - vectors L2-normalize ONCE in the JVM (``transform``/``aggregate``
      higher-order functions, no UDF) and localCheckpoint, so every
      iteration's scoring join reads the same materialized rows;
    - init AND per-iteration exploration use a deterministic hash ring:
      nodes sort by ``xxhash64(id, salt)`` within size-targeted hash
      buckets (occupancy ~max(4k, ``init_buckets``) nodes, so bucket
      COUNT grows with n and no window sort ever sees more than a few
      hundred rows) and adopt their k forward ring neighbors with
      wraparound — random-quality candidate edges, no node stranded.
      Each iteration re-rings with a fresh salt: pure local joins
      freeze when a true cluster fragments into disjoint k-cliques,
      and the ring is the random-restart bridge (hash-derived, so the
      whole construction stays deterministic);
    - each iteration: undirected neighbor lists self-join on the shared
      pivot (the neighbor-of-neighbor step, ≤(2k)^2 candidate rows of
      two longs per node — linear in n, the term that survives 100 TB),
      optional deterministic candidate sampling (``sample_pct`` < 100
      keeps pairs where ``pmod(xxhash64(a,b,iter), 100) < sample_pct``
      — NN-Descent's rho-sampling without RNG), distinct pairs score
      once via one equi-join per side onto the normalized vectors and a
      ``zip_with`` dot (JVM), and a union + per-node top-(k) window
      keeps the best edges. Union-then-top-k means graph quality is
      MONOTONE non-decreasing by construction;
    - per-iteration ``localCheckpoint`` cuts the iterative lineage (the
      repo's pagerank/HITS convention).

    Deterministic for a given (seed, sample_pct, iters). Nodes with
    zero-norm vectors score 0 against everything but still hold ring
    edges (never silently dropped). Returns at most k rows per id
    (fewer only when the corpus itself has < k+1 nodes).
    """
    from pyspark.sql import Window

    if k <= 0:
        raise ValueError("k must be positive")
    if iters < 0:
        raise ValueError("iters must be >= 0")
    if not 1 <= sample_pct <= 100:
        raise ValueError("sample_pct must be in [1, 100]")
    if init_buckets < 1:
        raise ValueError("init_buckets must be >= 1")

    sq = F.aggregate(
        F.transform(F.col(vec_col), lambda x: x * x),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = F.greatest(F.sqrt(sq), F.lit(1e-12))
    normed = (
        df.select(
            F.col(id_col).cast("long").alias("id"),
            F.transform(
                F.col(vec_col), lambda x: x.cast("double") / norm
            ).alias("__nv"),
        )
        .localCheckpoint(eager=False)
    )

    # --- deterministic random candidates: circular ring in hash order ---
    # Used for the initial graph AND re-injected each iteration with a
    # fresh hash seed: pure neighbor-of-neighbor propagation provably
    # freezes when a true cluster splits into disjoint k-cliques (no
    # pivot ever holds members of both), so every iteration also scores
    # one ring of hash-random pairs — NN-Descent's random-restart remedy
    # without RNG. Bucket count scales with n (target occupancy
    # max(4k, ``init_buckets``) nodes) so the per-bucket window sort
    # stays tiny at any corpus size, and the ring WRAPS inside its
    # bucket so every node in a >=2 bucket gets k candidates (a fixed
    # bucket count would strand small-bucket nodes with zero edges).
    n_nodes = normed.count()
    n_buckets = max(1, n_nodes // max(4 * k, init_buckets))

    def _ring_pairs(salt: int) -> DataFrame:
        ring = normed.select(
            "id",
            F.pmod(F.xxhash64("id", F.lit(salt)), F.lit(n_buckets)).alias("__bk"),
            F.xxhash64("id", F.lit(salt + 1)).alias("__h"),
        )
        wb = Window.partitionBy("__bk").orderBy("__h", "id")
        pos = (
            ring.withColumn("__p", F.row_number().over(wb))
            .withColumn(
                "__cnt", F.count(F.lit(1)).over(Window.partitionBy("__bk"))
            )
            .select("id", "__bk", "__p", "__cnt")
        )
        return (
            pos.select(
                "id",
                "__bk",
                F.explode(
                    F.array_distinct(
                        F.transform(
                            F.sequence(
                                F.lit(1), F.least(F.lit(k), F.col("__cnt") - 1)
                            ),
                            lambda j: F.pmod(F.col("__p") - 1 + j, F.col("__cnt")) + 1,
                        )
                    )
                ).alias("__tp"),
            )
            .join(
                pos.select(
                    F.col("__bk"),
                    F.col("__p").alias("__tp"),
                    F.col("id").alias("nbr"),
                ),
                ["__bk", "__tp"],
            )
            .where(F.col("nbr") != F.col("id"))
            .select("id", "nbr")
        )

    cand0 = _ring_pairs(seed)

    dot = F.aggregate(
        F.zip_with("__va", "__vb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )

    def _score(pairs: DataFrame) -> DataFrame:
        """pairs(id, nbr) -> (id, nbr, sim) via two vector joins + JVM dot."""
        return (
            pairs.join(normed.select(F.col("id"), F.col("__nv").alias("__va")), "id")
            .join(
                normed.select(F.col("id").alias("nbr"), F.col("__nv").alias("__vb")),
                "nbr",
            )
            .select("id", "nbr", dot.alias("sim"))
        )

    def _topk(edges: DataFrame) -> DataFrame:
        w = Window.partitionBy("id").orderBy(F.col("sim").desc(), F.col("nbr"))
        return (
            edges.dropDuplicates(["id", "nbr"])
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
        )

    edges = _topk(_score(cand0)).localCheckpoint()

    for it in range(iters):
        und = (
            edges.select("id", "nbr")
            .unionByName(edges.select(F.col("nbr").alias("id"), F.col("id").alias("nbr")))
            .dropDuplicates(["id", "nbr"])
        )
        # neighbor-of-neighbor: all pairs among each pivot's neighbor set
        nn = (
            und.select(F.col("id").alias("__pv"), F.col("nbr").alias("a"))
            .join(und.select(F.col("id").alias("__pv"), F.col("nbr").alias("b")), "__pv")
            .where(F.col("a") < F.col("b"))
            .select("a", "b")
        )
        if sample_pct < 100:
            nn = nn.where(
                F.pmod(F.xxhash64("a", "b", F.lit(it), F.lit(seed)), F.lit(100))
                < F.lit(sample_pct)
            )
        explore = _ring_pairs(seed + 1000 * (it + 1)).select(
            F.least("id", "nbr").alias("a"), F.greatest("id", "nbr").alias("b")
        )
        pairs = nn.unionByName(explore).distinct()
        scored = _score(pairs.select(F.col("a").alias("id"), F.col("b").alias("nbr")))
        both = scored.unionByName(
            scored.select(F.col("nbr").alias("id"), F.col("id").alias("nbr"), "sim")
        )
        edges = _topk(edges.select("id", "nbr", "sim").unionByName(both)).localCheckpoint()

    return edges.select("id", "nbr", "sim", "rank")
