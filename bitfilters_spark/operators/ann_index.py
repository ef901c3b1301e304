"""Persisted IVF-routed ANN index (#132) — the embedding twin of the
persisted BM25 index (`bm25_index.py`) and LSH index (`neardup_index.py`):
``similarity.ivf_topk`` re-routes the WHOLE corpus through the coarse
quantizer on every call, which is the right shape for one-shot jobs but
wrong for the serve-many-query-batches pattern (ANN against a frozen
training corpus: contamination probes, SemDeDup candidate lookups,
nearest-neighbor audits). This module splits the cost:

* :func:`build_ann_index` — ONE corpus pass k-means-trains (or reuses)
  the coarse quantizer, routes every vector to its nearest centroid
  cell (`_vectors.route`, the router `ivf_topk` uses), and persists a
  CELL-BUCKETED table ``<name>_cells`` (cell, id, vec — the vector
  stored L2-NORMALIZED in float64) plus the ``<name>_centroids`` table
  (model-scale). Bucketing + in-bucket cell sort mean a probe's
  candidate cells live in known buckets, in sorted runs parquet min/max
  stats prune to. Builds publish through `sources/index_store.py`: a
  failed rebuild leaves the previous index fully queryable.
* :func:`append_to_ann_index` — fold NEW vectors in at cost ∝ the new
  data: they route through the STORED centroids (no re-training — the
  quantizer is frozen, the standard IVF maintenance trade: cell balance
  can drift as the distribution does, rebuild to re-center) and append
  into the bucketed layout. Geometry (bucket count + centroid count) is
  stamped as table properties so a mismatched append fails loudly.
* :func:`ann_query_index` — top-k for a query batch: queries collect
  driver-side (small by contract, the `cosine_topk` convention), their
  ``nprobe`` nearest cells become a LITERAL In-filter pushed into the
  bucketed cells scan (non-candidate cells never leave parquet) plus a
  broadcast (query, cell) probe list; each Arrow batch of candidates is
  scored and keeps its local top-k, and the top-k window runs over
  those survivors only. Probe cost ∝ corpus × nprobe / n_centroids,
  never the full corpus — and the routing pass `ivf_topk` pays per call
  is already on disk.

Composition law (pytest, tests/test_similarity.py): at full probe
(``nprobe == n_centroids``) ``ann_query_index`` returns EXACTLY
``ivf_topk`` (itself exact vs brute force at full probe). This holds by
construction: both run `_vectors.probe_topk` with the same kernel, one
over the stored cells and one over the in-session routed frame, and the
normalized float64 vectors round-trip parquet losslessly. Appending
half the corpus then probing equals a from-scratch rebuild over the
union (same frozen centroids ⇒ same cells ⇒ same candidates).

Single-writer contract (same as the LSH/BM25 indexes): appends are plain
bucketed-table appends with no transaction log; appended ids are assumed
NEW (re-appending an id duplicates its row and it can appear twice in a
top-k).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import index_store
from ..sources.index_store import Table
from . import _vectors as V
from .similarity import ivf_centroids

_ANN = (Table("cells", "cell", sort=True), Table("centroids"))
_IVFPQ = _ANN + (Table("codebooks"),)
_SIG = (Table("sigs", "id", sort=True),)


def _centroid_frame(spark: SparkSession, C: np.ndarray) -> DataFrame:
    return spark.createDataFrame(
        [(int(i), [float(x) for x in C[i]]) for i in range(len(C))],
        "cell long, vec array<double>",
    )


def build_ann_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    name: str,
    n_centroids: int = 64,
    num_buckets: int = 16,
    path: str | None = None,
    seed: int = 42,
    centroids: np.ndarray | None = None,
) -> np.ndarray:
    """Build and persist the index; returns the trained centroid matrix
    (also persisted as ``<name>_centroids``). ``centroids`` reuses a
    pre-trained quantizer (`load_ivf_index` / a prior build) and skips
    the k-means pass. ``path`` makes the tables EXTERNAL, same contract
    as the BM25/LSH indexes."""
    index_store.check_name(name)
    spark = df.sparkSession
    C = np.asarray(
        centroids
        if centroids is not None
        else ivf_centroids(df, vec_col, n_centroids, seed=seed),
        dtype=np.float64,
    )
    index_store.publish(
        spark, name, _ANN,
        [V.route(df, id_col, vec_col, C), _centroid_frame(spark, C)],
        {"num_buckets": num_buckets, "n_centroids": len(C)}, path,
    )
    return C


def compact_ann_index(
    spark: SparkSession, name: str, path: str | None = None
) -> dict:
    """Rewrite the cells table into one file-set per bucket: every
    ``append_to_ann_index`` call (and therefore every streaming
    maintenance micro-batch) adds a file-set per bucket forever; probe
    answers stay exact but probe PLANS degrade with file count. Rows,
    centroids, and geometry are unchanged, so probes are bit-identical
    before/after (per-row scoring — no order-sensitive float sums).
    Same staging-swap atomicity as a build: a crash mid-compact leaves
    the live index untouched. Returns postings file counts
    ``{"files_before": n, "files_after": n}``."""
    return index_store.compact(spark, name, _ANN, path)


def load_ann_centroids(spark: SparkSession, name: str) -> np.ndarray:
    rows = sorted(
        spark.table(f"{index_store.check_name(name)}_centroids").collect(),
        key=lambda r: r["cell"],
    )
    return np.array([r["vec"] for r in rows], dtype=np.float64)


def append_to_ann_index(
    new_df: DataFrame,
    id_col: str,
    vec_col: str,
    name: str,
    num_buckets: int = 16,
) -> None:
    """Fold NEW vectors into the index at cost ∝ the new data: route
    through the STORED centroids (the quantizer stays frozen — identical
    cells to a rebuild with the same centroids, so append-then-probe ≡
    rebuild-then-probe, tested), append into the bucketed layout."""
    spark = new_df.sparkSession
    index_store.check_geometry(
        spark, name, _ANN, {"num_buckets": num_buckets}, "ANN"
    )
    C = load_ann_centroids(spark, name)
    index_store.append(
        spark, name, _ANN[:1], [V.route(new_df, id_col, vec_col, C)], num_buckets
    )


class AnnProbe:
    """Session-cached probe handle (the :class:`bm25_index.BM25Probe`
    pattern): ``ann_query_index`` re-reads the centroids table and
    refreshes the catalog on EVERY call — right for occasional probes,
    waste in a probe-per-batch loop. The handle pins the centroid matrix
    at construction; appends route through frozen centroids anyway, so a
    stale handle only misses rows appended after construction (call
    :meth:`refresh` or build a new handle to see them)."""

    def __init__(self, spark: SparkSession, name: str):
        self.spark = spark
        self.name = index_store.check_name(name)
        self.refresh()

    def refresh(self) -> "AnnProbe":
        index_store.refresh(self.spark, self.name, _ANN)
        self.C = load_ann_centroids(self.spark, self.name)
        return self

    def query(
        self,
        queries: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        k: int = 5,
        nprobe: int = 8,
        max_queries: int = 100_000,
    ) -> DataFrame:
        """(query_id, rank, neighbor_id) — identical rows to ``ivf_topk``
        on the indexed corpus with the same centroids and nprobe: both
        run `_vectors.probe_topk`, here over the stored cells. The
        candidate cell list is BOTH a literal In-filter on the bucketed
        cells scan (parquet prunes non-candidate cells) and a broadcast
        (query, cell) probe join; the only wide op is the final
        per-query top-k window over each batch's local top-k."""
        got = V.collect_queries(
            queries, id_col, vec_col, max_queries, "ann_query_index"
        )
        if got is None:  # 0-row query batches must not crash (repo convention)
            return V.empty_topk(self.spark)
        qids, Q = got
        return V.probe_topk(
            self.spark.table(f"{self.name}_cells"), qids, Q, self.C, nprobe, k,
            V.cell_kernel, Q,
        )


def ann_query_index(
    spark: SparkSession,
    name: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 8,
    max_queries: int = 100_000,
) -> DataFrame:
    """One-shot form of :class:`AnnProbe` (fresh centroids read every
    call — correct for occasional probes; loops should hold a handle)."""
    return AnnProbe(spark, name).query(
        queries, id_col, vec_col, k, nprobe, max_queries
    )


def ann_index_report(spark: SparkSession, name: str) -> DataFrame:
    """Per-cell occupancy + assignment-quality report — the WHEN-to-
    rebuild measurement the estimator family (#108/#112/#114) gives
    every other approximate operator here. Appends route through FROZEN
    centroids (`append_to_ann_index`): as the data distribution drifts,
    cells fill unevenly and vectors sit farther from their centroid, so
    probe recall at fixed nprobe decays. One cells-table pass returns
    (cell, n_vecs, frac, mean_sim, min_sim): ``frac`` exposes occupancy
    skew (a few giant cells ⇒ nprobe covers less of the corpus than
    n_probed/n_centroids suggests), ``mean_sim`` is the mean cosine of
    each vector to its own centroid — WATCH it across appends; a drop
    vs the post-build reading means the frozen quantizer no longer fits
    the data: rebuild to re-center."""
    index_store.refresh(spark, name, _ANN)
    bc = spark.sparkContext.broadcast(load_ann_centroids(spark, name))

    def per_cell(batches):
        C_ = bc.value
        for b in batches:
            if not b.num_rows:
                continue
            cells = V.ids(b.column(0))
            sims = np.einsum("ij,ij->i", V.matrix(b.column(1)), C_[cells])
            cell, inv = np.unique(cells, return_inverse=True)
            min_sim = np.full(len(cell), np.inf)
            np.minimum.at(min_sim, inv, sims)
            yield pa.RecordBatch.from_pydict({
                "cell": cell,
                "n_vecs": np.bincount(inv),
                "sum_sim": np.bincount(inv, weights=sims),
                "min_sim": min_sim,
            })

    partials = (
        spark.table(f"{name}_cells")
        .select("cell", "vec")
        .mapInArrow(  # partition-local partials
            per_cell, "cell long, n_vecs long, sum_sim double, min_sim double"
        )
        .groupBy("cell")
        .agg(
            F.sum("n_vecs").alias("n_vecs"),
            F.sum("sum_sim").alias("sum_sim"),
            F.min("min_sim").alias("min_sim"),
        )
    )
    from pyspark.sql import Window

    # cells are model-scale (n_centroids rows) — a global window is fine
    total = F.sum("n_vecs").over(Window.partitionBy())
    return partials.select(
        "cell",
        "n_vecs",
        (F.col("n_vecs") / total).alias("frac"),
        (F.col("sum_sim") / F.col("n_vecs")).alias("mean_sim"),
        "min_sim",
    )


def recenter_ann_index(
    spark: SparkSession,
    name: str,
    n_centroids: int | None = None,
    num_buckets: int | None = None,
    path: str | None = None,
    seed: int = 42,
) -> np.ndarray:
    """Re-train the quantizer FROM the index's own stored vectors and
    rebuild in place — the maintenance action `ann_index_report`'s
    drift numbers call for (appends route through frozen centroids;
    occupancy skews as the distribution drifts). Geometry defaults to
    the stored values; the rebuild inherits `build_ann_index`'s
    staging-swap atomicity, so probes stay live on the old index until
    the swap and a failed re-center leaves it untouched. Returns the
    new centroid matrix. Cost: one k-means sample pass + one full
    re-route of the stored vectors — the documented trade vs appends
    (∝ new data) that this call amortizes."""
    index_store.refresh(spark, name, _ANN)
    geom = index_store.geometry(spark, name, _ANN)
    vecs = spark.table(f"{name}_cells").select("id", "vec")
    # localCheckpoint: the rebuild DROPS the table these rows come from
    # mid-plan; materialize first so the swap can't pull the scan's
    # files out from under the write
    vecs = vecs.localCheckpoint()
    return build_ann_index(
        vecs,
        "id",
        "vec",
        name,
        n_centroids=int(n_centroids or geom["n_centroids"]),
        num_buckets=int(num_buckets or geom["num_buckets"]),
        path=path,
        seed=seed,
    )


# ------------------------------------------------------------------ IVF-PQ
#
# The FAISS IVFPQ composition (Jégou et al. 2011 §IV): the coarse
# quantizer routes each vector to a cell (#132's layout) and the
# RESIDUAL r = v − c_cell is product-quantized to m bytes — the index
# stores (cell, id, code) instead of (cell, id, vec), so a billion-
# vector store holds 16-byte codes where #132 holds 8·d-byte floats
# (768-dim float64: 6144 → m bytes). Probing combines both halves of
# the decomposition q·v = q·c_cell + q·r: the first term is computed
# EXACTLY per (query, cell) in each probe task, the second approximated by
# ADC over the residual codebooks — so the only approximation is the
# residual quantization error, and in the lossless-codebook regime
# (every subspace ≤ n_codes distinct residuals) probing equals
# `ivf_topk` with the same centroids and nprobe EXACTLY (pytest).
# Codebooks are GLOBAL across cells (the FAISS default — per-cell books
# would multiply model size by n_centroids for marginal recall).


def build_ivfpq_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    name: str,
    n_centroids: int = 64,
    m: int = 8,
    n_codes: int = 256,
    num_buckets: int = 16,
    sample_rows: int = 20_000,
    iters: int = 10,
    path: str | None = None,
    seed: int = 42,
    centroids: np.ndarray | None = None,
    codebooks: np.ndarray | None = None,
) -> tuple:
    """Build and persist the IVFPQ index; returns (centroids,
    codebooks). Two corpus passes: a bounded residual SAMPLE trains the
    codebooks (driver-side k-means on ≤ sample_rows residuals — the
    `train_pq` cost posture, O(sample) never O(corpus)), then one full
    pass routes + encodes. Pass ``centroids``/``codebooks`` to reuse
    trained models and skip the respective training."""
    from .similarity import train_pq_books

    index_store.check_name(name)
    spark = df.sparkSession
    C = np.asarray(
        centroids
        if centroids is not None
        else ivf_centroids(df, vec_col, n_centroids, seed=seed),
        dtype=np.float64,
    )
    if codebooks is None:
        # deterministic training sample (r14, ADVICE): an unordered
        # limit() varies across rebuilds of the same corpus, silently
        # changing the codebooks; TakeOrdered by the unique id pins it,
        # cost O(n log sample) distributed — never a full sort
        sample = (
            V.route(df, id_col, vec_col, C)
            .select("cell", "vec", "id")
            .orderBy("id")
            .limit(sample_rows)
            .collect()
        )
        if not sample:
            raise ValueError("build_ivfpq_index: empty input")
        R = np.array([r["vec"] for r in sample], dtype=np.float64) - C[
            np.array([r["cell"] for r in sample], dtype=np.int64)
        ]
        cb = train_pq_books(R, m, n_codes, iters, seed)
    else:
        cb = np.asarray(codebooks, dtype=np.float64)
    books = spark.createDataFrame(
        [
            (int(s), int(j), [float(x) for x in cb[s, j]])
            for s in range(cb.shape[0])
            for j in range(cb.shape[1])
        ],
        "s long, j long, vec array<double>",
    )
    index_store.publish(
        spark, name, _IVFPQ,
        [V.encode(df, id_col, vec_col, cb, C), _centroid_frame(spark, C), books],
        {"num_buckets": num_buckets, "n_centroids": len(C), "pq_m": cb.shape[0]},
        path,
    )
    return C, cb


def load_pq_codebooks(spark: SparkSession, name: str) -> np.ndarray:
    rows = sorted(
        spark.table(f"{index_store.check_name(name)}_codebooks").collect(),
        key=lambda r: (r["s"], r["j"]),
    )
    m = int(rows[-1]["s"]) + 1
    k_eff = len(rows) // m
    return np.array([r["vec"] for r in rows], dtype=np.float64).reshape(
        m, k_eff, -1
    )


def append_to_ivfpq_index(
    new_df: DataFrame,
    id_col: str,
    vec_col: str,
    name: str,
    num_buckets: int = 16,
) -> None:
    """Fold NEW vectors in at cost ∝ the new data: route through the
    STORED centroids and encode through the STORED codebooks (both
    frozen — identical cells AND codes to a rebuild with the same
    models, so append-then-probe ≡ rebuild-then-probe, tested). Same
    geometry guard and single-writer contract as
    `append_to_ann_index`."""
    spark = new_df.sparkSession
    index_store.check_geometry(
        spark, name, _IVFPQ, {"num_buckets": num_buckets}, "IVFPQ"
    )
    C = load_ann_centroids(spark, name)
    cb = load_pq_codebooks(spark, name)
    index_store.append(
        spark,
        name,
        _IVFPQ[:1],
        [V.encode(new_df, id_col, vec_col, cb, C)],
        num_buckets,
    )


class IvfPqProbe:
    """Session-cached IVFPQ probe handle (the :class:`AnnProbe`
    pattern, models pinned at construction). Scoring decomposes
    q·v = q·c_cell (exact, driver-computed per candidate cell) +
    q·r (ADC over the residual codebooks — m byte-indexed lookups per
    candidate; the stored float vectors do not exist to be read)."""

    def __init__(self, spark: SparkSession, name: str):
        self.spark = spark
        self.name = index_store.check_name(name)
        self.refresh()

    def refresh(self) -> "IvfPqProbe":
        index_store.refresh(self.spark, self.name, _IVFPQ)
        self.C = load_ann_centroids(self.spark, self.name)
        self.cb = load_pq_codebooks(self.spark, self.name)
        return self

    def query(
        self,
        queries: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        k: int = 5,
        nprobe: int = 8,
        max_queries: int = 100_000,
    ) -> DataFrame:
        """(query_id, rank, neighbor_id) — `ann_query_index`'s contract
        over PQ codes: candidate cells are a literal In-filter on the
        bucketed codes scan + a broadcast probe list; per candidate the
        score is base[q, cell] + Σ_s LUT[q][s, code_s]."""
        got = V.collect_queries(
            queries, id_col, vec_col, max_queries, "ivfpq_query_index"
        )
        if got is None:
            return V.empty_topk(self.spark)
        qids, Q = got
        # broadcast the COMPACT models (Q is nq x d; C/cb are tiny) and
        # derive the ADC LUT + base table ONCE PER TASK on the executor:
        # the expanded LUT is (nq, m*k_eff) — up to ~32x Q at the
        # defaults, ~1.6 GB at max_queries — and shipping it would OOM
        # long before the query bound AnnProbe sustains
        return V.probe_topk(
            self.spark.table(f"{self.name}_cells"), qids, Q, self.C, nprobe, k,
            V.ivfpq_kernel, (Q, self.C, self.cb),
        )


def ivfpq_query_index(
    spark: SparkSession,
    name: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 8,
    max_queries: int = 100_000,
) -> DataFrame:
    """One-shot form of :class:`IvfPqProbe` (fresh models read every
    call — correct for occasional probes; loops should hold a handle)."""
    return IvfPqProbe(spark, name).query(
        queries, id_col, vec_col, k, nprobe, max_queries
    )


def compact_ivfpq_index(
    spark: SparkSession, name: str, path: str | None = None
) -> dict:
    """`compact_ann_index` for the IVFPQ family: every append adds a
    file-set per bucket forever; rewrite the codes table to one file-set
    per bucket. Rows, centroids, codebooks, and geometry are unchanged,
    so probes are bit-identical before/after; same staging-swap
    atomicity (a crash mid-compact leaves the live index untouched).
    Returns ``{"files_before": n, "files_after": n}``."""
    return index_store.compact(spark, name, _IVFPQ, path)


def ivfpq_index_report(spark: SparkSession, name: str) -> DataFrame:
    """Per-cell occupancy + size accounting for an IVFPQ index —
    `ann_index_report`'s WHEN-to-rebuild occupancy half (frozen-model
    appends skew cells as the distribution drifts; a few giant cells
    mean nprobe covers less of the corpus than nprobe/n_centroids
    suggests) plus the accounting the compression exists for:
    ``code_bytes`` per cell and the index-wide bytes/vector (== m by
    construction — asserted in pytest, the claim the codes table makes
    vs #132's 8·d float layout). The centroid-distance drift half needs
    raw vectors the codes table deliberately no longer stores — decode
    error vs the ORIGINAL vectors is `similarity.pq_recall_report`'s
    job at build/validate time."""
    index_store.refresh(spark, name, _IVFPQ)
    cells = spark.table(f"{name}_cells")
    per = cells.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.octet_length("code")).cast("long").alias("code_bytes"),
    )
    tot = per.agg(F.sum("n_vecs").alias("__t"))
    return per.crossJoin(F.broadcast(tot)).select(
        "cell",
        "n_vecs",
        (F.col("n_vecs").cast("double") / F.greatest(
            F.col("__t").cast("double"), F.lit(1.0)
        )).alias("frac"),
        "code_bytes",
    )


# ---------------------------------------------------------------------------
# Persisted binary-signature (Hamming) index — the fifth index family
# (r14): the build-once/probe-many form of `similarity.hamming_topk` /
# `hamming_rerank_topk`. The store is `<name>_sigs` (id, sig[, vec]):
# the sign signatures are the 64x-compressed coarse representation; the
# optional vec column keeps the float vectors co-located for the exact-
# cosine re-rank stage (bucketed on id, so the re-rank's re-fetch join
# reads index rows in place). Probes share `_hamming_rank` /
# `_cosine_rerank` with the in-session operators, so index and scan can
# never diverge arithmetically (pinned in pytest).
# ---------------------------------------------------------------------------


def _sig_rows(df: DataFrame, id_col: str, vec_col: str, keep_vectors: bool) -> DataFrame:
    from .similarity import binary_signatures

    base = binary_signatures(df.select(id_col, vec_col), vec_col)
    cols = [F.col(id_col).alias("id"), F.col("sig")]
    if keep_vectors:
        cols.append(F.col(vec_col).alias("vec"))
    return base.select(*cols)


def build_sig_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    name: str,
    num_buckets: int = 16,
    keep_vectors: bool = True,
    path: str | None = None,
) -> None:
    """One corpus pass → the bucketed table ``<name>_sigs``.
    ``keep_vectors=False`` stores signatures only (8 B/vector at 64
    dims) — probes then serve the coarse Hamming ranking and refuse
    re-ranking loudly."""
    index_store.publish(
        df.sparkSession, name, _SIG, [_sig_rows(df, id_col, vec_col, keep_vectors)],
        {"num_buckets": num_buckets, "keep_vectors": int(keep_vectors)}, path,
    )


def append_to_sig_index(
    new_df: DataFrame,
    id_col: str,
    vec_col: str,
    name: str,
    num_buckets: int = 16,
) -> None:
    """Fold NEW vectors in at cost ∝ new data (signature packing is
    scan-speed); the stored layout decides whether vectors ride along.
    Same geometry guard and single-writer contract as the other index
    families."""
    spark = new_df.sparkSession
    stored = index_store.check_geometry(
        spark, name, _SIG, {"num_buckets": num_buckets}, "signature"
    )
    keep_vectors = stored.get("keep_vectors", 1) == 1
    index_store.append(
        spark, name, _SIG, [_sig_rows(new_df, id_col, vec_col, keep_vectors)],
        num_buckets,
    )


def sig_query_index(
    spark: SparkSession,
    name: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    rerank_overfetch: int = 0,
    max_queries: int = 100_000,
) -> DataFrame:
    """Probe the persisted signature store. ``rerank_overfetch=0``:
    the pure coarse pass — (query_id, rank, neighbor_id, hamming),
    identical to `hamming_topk` against the indexed corpus. ``>= 1``:
    the two-stage shape — k·overfetch Hamming survivors re-ranked by
    exact cosine from the CO-LOCATED stored vectors (no second corpus
    scan; requires keep_vectors=True, else a loud error), identical to
    `hamming_rerank_topk`. Query signatures are computed in-session;
    the index side streams its stored ones."""
    from .similarity import (
        _check_query_count,
        _cosine_rerank,
        _hamming_rank,
        binary_signatures,
    )

    index_store.check_name(name)
    _check_query_count(queries, max_queries, "sig_query_index")
    sigs = spark.table(f"{name}_sigs")
    q = binary_signatures(queries.select(id_col, vec_col), vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col("sig").alias("__sq"),
        F.col(vec_col).alias("__qv"),
    )
    c = sigs.select(F.col("id").alias("neighbor_id"), F.col("sig").alias("__sc"))
    if rerank_overfetch < 1:
        return _hamming_rank(c, q.drop("__qv"), k)
    if "vec" not in sigs.columns:
        raise ValueError(
            f"signature index '{name}' was built with keep_vectors=False; "
            "it cannot serve an exact-cosine re-rank. Rebuild with "
            "keep_vectors=True or probe with rerank_overfetch=0."
        )
    coarse = _hamming_rank(c, q.drop("__qv"), k * rerank_overfetch).select(
        "query_id", "neighbor_id"
    )
    nvec = sigs.select(F.col("id").alias("neighbor_id"), F.col("vec").alias("__nv"))
    return _cosine_rerank(coarse, nvec, q.select("query_id", "__qv"), k)


def compact_sig_index(spark: SparkSession, name: str, path: str | None = None) -> dict:
    """Rewrite the signature table into one file-set per bucket —
    rows/probe results unchanged, published like a build."""
    return index_store.compact(spark, name, _SIG, path)
