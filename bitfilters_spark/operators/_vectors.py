"""The vector top-k engine behind every ANN operator in `similarity`,
`ann_index` and `sampling`: one Arrow matrix view, one nearest-centroid
router, one PQ encoder, one query collect, one IVF probe, one
``mapInArrow`` scorer with a tie-safe per-batch top-k, and one rank
window.

Every top-k runs the same three steps. A kernel scores an Arrow batch
of candidates against the broadcast queries; the batch keeps its best
``k`` rows per query in the final window's order (similarity desc,
neighbor id asc), so a row it drops has ``k`` better rows before it and
can never reach the global top-k; one window over the survivors ranks
them. The operators differ only in their kernel: the cosine dot of
corpus rows (`cosine_topk`), PQ ADC over codes (`pq_topk`), the dot of
routed candidate rows (`ivf_topk`, `AnnProbe`) and IVF-PQ base + ADC
(`IvfPqProbe`). `ivf_topk` and `AnnProbe.query` run the same
:func:`probe_topk`, over an in-session routed frame and over the stored
cells table, so full-probe ``ann_query_index`` equals ``ivf_topk`` by
construction.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# -- Arrow views ----------------------------------------------------------------


def _one(arr) -> pa.Array:
    return arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr


def ids(arr) -> np.ndarray:
    """An Arrow integer column as int64."""
    return np.asarray(_one(arr).to_numpy(zero_copy_only=False), dtype=np.int64)


def matrix(arr) -> np.ndarray:
    """(rows, dim) float64 view of an Arrow list column of equal-length
    vectors: the flattened values, zero-copy for ``array<double>`` (so
    read-only). A NULL vector or vectors of different lengths raise."""
    arr = _one(arr)
    if arr.null_count:
        raise ValueError("vector column holds a NULL vector")
    n = len(arr)
    offs = arr.offsets.to_numpy()
    dim = int(offs[1] - offs[0]) if n else 0
    if n and (np.diff(offs) != dim).any():
        raise ValueError("vector column holds vectors of different lengths")
    vals = arr.values.slice(int(offs[0]), n * dim)
    return np.asarray(vals.to_numpy(zero_copy_only=False), dtype=np.float64).reshape(n, dim)


def vectors(X: np.ndarray) -> pa.Array:
    """A (rows, dim) matrix as an Arrow ``array<double>`` column."""
    n, d = X.shape
    return pa.ListArray.from_arrays(
        pa.array(np.arange(n + 1, dtype=np.int32) * d),
        pa.array(np.ascontiguousarray(X, dtype=np.float64).ravel()),
    )


def _codes(arr, m: int) -> np.ndarray:
    """(rows, m) int64 byte codes of an Arrow binary column of m-byte values."""
    arr = _one(arr)
    n = len(arr)
    offs = np.frombuffer(arr.buffers()[1], dtype=np.int32)[arr.offset : arr.offset + n + 1]
    data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
    return data[offs[0] : offs[-1]].reshape(n, m).astype(np.int64)


def _binary(codes: np.ndarray) -> pa.Array:
    """(rows, m) uint8 codes as an Arrow binary column of m-byte values."""
    n, m = codes.shape
    offs = np.arange(n + 1, dtype=np.int32) * m
    return pa.Array.from_buffers(
        pa.binary(), n,
        [None, pa.py_buffer(offs.tobytes()), pa.py_buffer(np.ascontiguousarray(codes).tobytes())],
    )


def normalize(X: np.ndarray) -> np.ndarray:
    """Rows scaled to unit L2 norm; a zero row stays zero."""
    return X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)


def sample(df: DataFrame, vec_col: str, sample_rows: int, seed: int) -> np.ndarray:
    """Normalized float64 matrix of at most ``sample_rows`` vectors: the
    first rows when the input is that small, else a seeded sample. Bounded
    by the sample, never the corpus; (0, 0) for an empty input."""
    vecs = df.select(vec_col)
    n = vecs.limit(sample_rows * 2).count()  # cheap bound, not a full count
    if n > sample_rows:
        vecs = vecs.sample(fraction=min(1.0, sample_rows / max(n, 1)), seed=seed)
    rows = vecs.limit(sample_rows).collect()
    if not rows:
        return np.empty((0, 0))
    return normalize(np.array([r[0] for r in rows], dtype=np.float64))


# -- routing and encoding -------------------------------------------------------


def nearest(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Index of each normalized row's nearest centroid (cosine argmax)."""
    return np.argmax(X @ C.T, axis=1)


def route(df: DataFrame, id_col: str, vec_col: str, C: np.ndarray) -> DataFrame:
    """(cell, id, vec): each vector L2-normalized in float64 and assigned
    to its nearest centroid; one ``mapInArrow`` pass, centroids
    broadcast."""
    bc = df.sparkSession.sparkContext.broadcast(np.asarray(C, dtype=np.float64))

    def assign(batches):
        C_ = bc.value
        for b in batches:
            if b.num_rows:
                X = normalize(matrix(b.column(1)))
                yield pa.RecordBatch.from_arrays(
                    [pa.array(nearest(X, C_)), pa.array(ids(b.column(0))), vectors(X)],
                    names=["cell", "id", "vec"],
                )

    return df.select(id_col, vec_col).mapInArrow(assign, "cell long, id long, vec array<double>")


def nearest_l2(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Index of each row's nearest centroid by L2, from the expansion
    ||x-c||^2 = ||x||^2 - 2x.c + ||c||^2 (the row's own norm drops out)."""
    return np.argmin(-2.0 * (X @ C.T) + (C * C).sum(axis=1)[None, :], axis=1)


def pq_codes(X: np.ndarray, cb: np.ndarray) -> np.ndarray:
    """(rows, m) uint8 PQ codes: per subspace, the nearest codebook entry."""
    m, _, dsub = cb.shape
    codes = np.empty((len(X), m), dtype=np.uint8)
    for s in range(m):
        codes[:, s] = nearest_l2(X[:, s * dsub : (s + 1) * dsub], cb[s])
    return codes


def encode(
    df: DataFrame, id_col: str, vec_col: str, cb: np.ndarray, C: np.ndarray | None = None
) -> DataFrame:
    """(id, code): m-byte PQ codes of the normalized vectors. Given
    centroids ``C``, (cell, id, code): each vector routes to its nearest
    centroid and its residual to it is encoded. One ``mapInArrow`` pass,
    models broadcast."""
    bc = df.sparkSession.sparkContext.broadcast(
        (np.asarray(cb, dtype=np.float64), None if C is None else np.asarray(C, dtype=np.float64))
    )

    def enc(batches):
        cb_, C_ = bc.value
        for b in batches:
            if not b.num_rows:
                continue
            X = normalize(matrix(b.column(1)))
            cols = {"id": pa.array(ids(b.column(0)))}
            if C_ is not None:
                cells = nearest(X, C_)
                X = X - C_[cells]
                cols = {"cell": pa.array(cells), **cols}
            cols["code"] = _binary(pq_codes(X, cb_))
            yield pa.RecordBatch.from_pydict(cols)

    schema = "id long, code binary" if C is None else "cell long, id long, code binary"
    return df.select(id_col, vec_col).mapInArrow(enc, schema)


# -- queries, scoring and ranking -----------------------------------------------


def collect_queries(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    max_queries: int | None = None,
    who: str = "",
):
    """(query ids, normalized query matrix) of a driver-scale query set,
    or None when it is empty. With ``max_queries``, a larger set raises
    instead of collecting a corpus-sized frame onto the driver."""
    q = queries.select(id_col, vec_col)
    if max_queries is not None:
        q = q.limit(max_queries + 1)
    t = q.toArrow()
    if max_queries is not None and t.num_rows > max_queries:
        raise ValueError(
            f"{who} collected more than max_queries={max_queries} query "
            "rows; batch the query set, or raise max_queries consciously."
        )
    if not t.num_rows:
        return None
    return ids(t.column(0)), normalize(matrix(t.column(1)))


def empty_topk(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], "query_id long, rank int, neighbor_id long")


def _batch_topk(qpos, nid, sim, qids: np.ndarray, k: int):
    """The batch's best ``k`` (sim desc, neighbor id asc) per query, self
    matches left out. ``qpos`` None means ``sim`` is dense (rows, nq):
    every row scored against every query."""
    if qpos is None:
        sim = np.where(nid[:, None] == qids[None, :], -np.inf, sim)
        if len(nid) > k:  # keep each query's k best values, ties included
            kth = -np.partition(-sim, k - 1, axis=0)[k - 1]
            sim = np.where(sim >= kth[None, :], sim, -np.inf)
        r, qpos = np.nonzero(sim > -np.inf)
        nid, sim = nid[r], sim[r, qpos]
    else:
        keep = nid != qids[qpos]
        qpos, nid, sim = qpos[keep], nid[keep], sim[keep]
    order = np.lexsort((nid, -sim, qpos))
    q = qpos[order]
    first = np.searchsorted(q, q)  # where each query's run starts
    sel = order[np.arange(len(q)) - first < k]
    return qpos[sel], nid[sel], sim[sel]


def score_topk(cand: DataFrame, qids: np.ndarray, k: int, kernel, model) -> DataFrame:
    """(query_id, rank, neighbor_id): ``kernel(model)`` builds, once per
    task, a scorer of one Arrow batch of ``cand`` that returns (qpos,
    neighbor ids, sims), with qpos None for a dense (rows, nq) sims
    matrix. Each batch keeps its tie-safe top-k; one window ranks the
    survivors. ``qids`` and ``model`` are broadcast."""
    bc = cand.sparkSession.sparkContext.broadcast((qids, model))

    def local_topk(batches):
        qids_, model_ = bc.value
        score = kernel(model_)
        for b in batches:
            if not b.num_rows:
                continue
            qpos, nid, sim = _batch_topk(*score(b), qids_, k)
            if len(nid):
                yield pa.RecordBatch.from_arrays(
                    [pa.array(qids_[qpos]), pa.array(nid), pa.array(sim)],
                    names=["query_id", "neighbor_id", "sim"],
                )

    scored = cand.mapInArrow(local_topk, "query_id long, neighbor_id long, sim double")
    return rank_window(scored, k, F.col("sim").desc())


def rank_window(scored: DataFrame, k: int, order: Column, *keep: str) -> DataFrame:
    """(query_id, rank, neighbor_id, *keep): the first ``k`` rows per
    query by ``order``, neighbor id breaking ties."""
    w = Window.partitionBy("query_id").orderBy(order, F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", *keep)
    )


def probe_topk(
    cells: DataFrame, qids: np.ndarray, Q: np.ndarray, C: np.ndarray,
    nprobe: int, k: int, kernel, model,
) -> DataFrame:
    """Top-k over a cell table (cell, id, ...): each query probes its
    ``nprobe`` nearest cells. The probed cells are a literal In-filter on
    ``cells`` (a stored table's scan prunes the rest) and a broadcast
    (qpos, cell) list joins the candidates, which :func:`score_topk`
    scores with ``kernel``."""
    near = np.argsort(-(Q @ C.T), axis=1)[:, : min(nprobe, len(C))]
    qpos = np.repeat(np.arange(len(Q)), near.shape[1])
    probes = cells.sparkSession.createDataFrame(
        list(zip(qpos.tolist(), near.ravel().tolist())), "qpos long, cell long"
    )
    cand = F.broadcast(probes).join(
        cells.where(F.col("cell").isin(np.unique(near).tolist())), "cell"
    )
    return score_topk(cand, qids, k, kernel, model)


# -- kernels: model -> (Arrow batch -> (qpos, neighbor ids, sims)) ---------------


def _lut(Q: np.ndarray, cb: np.ndarray) -> np.ndarray:
    """(nq, m*k_eff) ADC table: LUT[q, s, j] = q_sub(s) . codebook_s[j]."""
    m, k_eff, dsub = cb.shape
    return np.einsum("qsd,sjd->qsj", Q.reshape(len(Q), m, dsub), cb).reshape(len(Q), m * k_eff)


def dot_kernel(Q):
    """Corpus rows (id, vec) against every query: cosine."""

    def score(b):
        return None, ids(b.column(0)), normalize(matrix(b.column(1))) @ Q.T

    return score


def adc_kernel(model):
    """PQ codes (id, code) against every query: ADC sums of m lookups."""
    Q, cb = model
    m, k_eff = cb.shape[:2]
    lut, offs = _lut(Q, cb), np.arange(m, dtype=np.int64) * k_eff

    def score(b):
        idx = _codes(b.column(1), m) + offs[None, :]
        return None, ids(b.column(0)), np.stack([row[idx].sum(axis=1) for row in lut], axis=1)

    return score


def cell_kernel(Q):
    """Probe candidates (qpos, id, vec) of normalized vectors: their dot
    with their own query."""

    def score(b):
        qpos = ids(b.column("qpos"))
        return qpos, ids(b.column("id")), np.einsum("ij,ij->i", matrix(b.column("vec")), Q[qpos])

    return score


def ivfpq_kernel(model):
    """Probe candidates (cell, qpos, id, code) of residual codes:
    q.c_cell exactly, plus ADC of the residual."""
    Q, C, cb = model
    m, k_eff = cb.shape[:2]
    base, lut = Q @ C.T, _lut(Q, cb)
    offs = np.arange(m, dtype=np.int64) * k_eff

    def score(b):
        qpos = ids(b.column("qpos"))
        idx = _codes(b.column("code"), m) + offs[None, :]
        sim = base[qpos, ids(b.column("cell"))] + lut[qpos[:, None], idx].sum(axis=1)
        return qpos, ids(b.column("id")), sim

    return score
