"""Deterministic hash-based sampling and dataset splitting.

Training pipelines need samples and train/val/test splits that are (a)
reproducible across runs and engines, (b) stable under repartitioning,
and (c) correlated across tables sharing a key (sample the same users in
`orders` and `events`). Random sampling gives none of these; keying the
decision on the row's hash gives all three — and it is a pure map-side
predicate Catalyst can push into the scan (zero shuffle at any scale).

Bucket arithmetic uses LOW BITS via a power-of-2 mask, not modulo: the
two's-complement i64 that carries the u64 hash has identical low bits, so
``(h & mask)`` agrees between engines while ``h % n`` would not for
negative i64.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import duckdb_hash, spark_hash64


def _bucket(key_col, mask: int, native: bool) -> Column:
    h = spark_hash64(key_col) if native else duckdb_hash("v1.0.0", key_col)
    return h.bitwiseAND(F.lit(mask))


def hash_sample(
    df: DataFrame,
    key_col: str,
    threshold: int,
    mask: int = 1023,
    native: bool = True,
) -> DataFrame:
    """Keep rows whose key-hash low bits fall below ``threshold``; sampling
    rate ≈ threshold / (mask + 1). ``native=False`` uses the DuckDB-parity
    hash so an external engine draws the SAME sample."""
    if mask & (mask + 1):
        raise ValueError("mask must be 2^k - 1")
    return df.where(_bucket(key_col, mask, native) < threshold)


def hash_split(
    df: DataFrame,
    key_col: str,
    weights: dict,
    mask: int = 1023,
    split_col: str = "split",
    native: bool = True,
) -> DataFrame:
    """Assign each row a split label by hash-bucket range.

    ``weights`` maps label -> relative weight; ranges are allocated in
    insertion order over the ``mask+1`` buckets (floor division keeps them
    integral; the LAST label absorbs the remainder so every bucket is
    covered). Deterministic per key: the same key lands in the same split
    in every table and every run.
    """
    if mask & (mask + 1):
        raise ValueError("mask must be 2^k - 1")
    n_buckets = mask + 1
    total = sum(weights.values())
    b = _bucket(key_col, mask, native)
    labels = list(weights)
    # CASE b < e1 -> l1 WHEN b < e2 -> l2 ... ELSE last; built inside-out
    expr = F.lit(labels[-1])
    for lab, e in reversed(split_edges(weights, mask)):
        expr = F.when(b < e, F.lit(lab)).otherwise(expr)
    return df.withColumn(split_col, expr)


def stratified_hash_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    thresholds: dict,
    default_threshold: int = 0,
    mask: int = 1023,
    native: bool = True,
) -> DataFrame:
    """Per-stratum deterministic sampling: keep a row iff its key-hash low
    bits fall below the stratum's threshold (rate ≈ threshold/(mask+1)).
    The training-data rebalancing shape — downsample dominant classes,
    keep rare ones — with all of ``hash_sample``'s reproducibility, as a
    pure map-side predicate. Strata absent from ``thresholds`` use
    ``default_threshold`` (0 = drop)."""
    if mask & (mask + 1):
        raise ValueError("mask must be 2^k - 1")
    b = _bucket(key_col, mask, native)
    thr = F.lit(default_threshold)
    for stratum, t in thresholds.items():
        thr = F.when(F.col(strata_col) == stratum, F.lit(t)).otherwise(thr)
    return df.where(b < thr)


def reservoir_sample(
    df: DataFrame,
    key_cols,
    k: int,
    id_col: str,
    seed: int = 42,
    salt: int = 1,
    native: bool = True,
    rank_col: str = "rs_rank",
    order_by: Column | None = None,
) -> DataFrame:
    """EXACTLY ``k`` rows per key (fewer if the key has fewer),
    deterministic: rows rank by (hash(id, seed), id) within their key
    and ranks ``<= k`` survive, so the draw is reproducible across runs,
    engines (``native=False`` ranks by the DuckDB-parity hash of
    ``id + seed``), and repartitioning — the per-class "cap at k
    examples" shape that fraction-based :func:`stratified_hash_sample`
    cannot express. Output keeps all columns plus ``rank_col`` (1..k).

    ``order_by`` overrides the hash with a caller-supplied scramble
    expression (id still tiebreaks) — e.g. a multiplicative scramble
    ``(id * 2654435761) % 2**32`` is pure integer arithmetic any engine
    replays exactly, with no hash-kernel cost on the ranking pass.

    For LOW-cardinality keys with huge groups, prefer
    :func:`reservoir_sample_prefiltered`: it replaces the whole-corpus
    window sort with a verified threshold pre-filter — the sort (this
    function's real cost at scale, even under Spark's WindowGroupLimit,
    which still locally sorts every partition) happens over ~k·safety
    candidate rows per key instead of the corpus.

    Skew: a plain window sorts each key's rows in one task — fine for
    balanced keys, quadratic pain for a 1B-row hot key. ``salt > 1``
    runs two phases: rank within (key, hash-salt bucket) keeping k per
    bucket (local top-k over salt× smaller groups), then the final
    k among the ≤ k·salt survivors — same exact result (every salted
    bucket keeps its own top-k by the SAME order, so the global top-k
    survives phase 1 by pigeonhole)."""
    from pyspark.sql import Window

    if k < 1:
        raise ValueError("k must be >= 1")
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if order_by is not None:
        h = order_by
    elif native:
        h = F.xxhash64(F.col(id_col), F.lit(seed))
    else:
        # rank in UNSIGNED hash order (the cap_per_group convention): the
        # i64 column carries a u64 value that an external engine (DuckDB
        # UBIGINT) sorts unsigned — XOR the sign bit so the claimed
        # cross-engine reproducibility holds without a signed-cast caveat
        h = duckdb_hash(
            "v1.0.0", (F.col(id_col) + F.lit(seed)).cast("long")
        ).bitwiseXOR(F.lit(-(1 << 63)))
    order = [h.asc(), F.col(id_col).asc()]
    out = df
    if salt > 1:
        bucket = F.pmod(F.xxhash64(F.col(id_col), F.lit(seed + 1)), F.lit(salt))
        w1 = Window.partitionBy(*keys, bucket).orderBy(*order)
        out = (
            out.withColumn("__rs1", F.row_number().over(w1))
            .where(F.col("__rs1") <= k)
            .drop("__rs1")
        )
    w = Window.partitionBy(*keys).orderBy(*order)
    return out.withColumn(rank_col, F.row_number().over(w)).where(
        F.col(rank_col) <= k
    )


def reservoir_sample_prefiltered(
    df: DataFrame,
    key_cols,
    k: int,
    id_col: str,
    order_by: Column,
    order_max: int,
    safety: int = 64,
    rank_col: str = "rs_rank",
) -> DataFrame:
    """:func:`reservoir_sample` for LOW-cardinality keys with huge
    groups — same exact result, no corpus-wide sort.

    The window form locally sorts every partition (Spark's
    WindowGroupLimit prunes shuffle volume but still pays the full
    map-side sort). Here instead: one count aggregate (#keys rows,
    metadata-scale by the low-cardinality contract) sets a per-key
    threshold T = order_max·k·safety / n_key; rows with ``order_by``
    >= T cannot be in the top-k unless the filter undershot, so the
    window runs over ~k·safety candidates per key — a map-side
    predicate plus a sort of almost nothing. EXACTNESS is verified,
    not assumed: any key whose candidate count comes back below k
    (adversarial/non-uniform ``order_by``) is re-ranked by the plain
    window over just that key's rows and unioned in — so the result
    equals :func:`reservoir_sample` with the same ``order_by`` for ANY
    inputs, and the fast path merely requires ``order_by`` to be
    roughly uniform on [0, order_max). Keys with fewer than k·safety
    rows get T >= order_max (nothing dropped)."""
    from pyspark.sql import Window

    if k < 1:
        raise ValueError("k must be >= 1")
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    counts = (
        df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n")).collect()
    )
    # per-key threshold as a when-chain (#keys branches)
    thr = F.lit(order_max)
    for r in counts:
        cond = None
        for kc in keys:
            c = F.col(kc) == r[kc]
            cond = c if cond is None else (cond & c)
        t = min(order_max, -(-order_max * k * safety // max(r["n"], 1)))
        thr = F.when(cond, F.lit(t)).otherwise(thr)

    cand = df.where(order_by < thr)
    order = [order_by.asc(), F.col(id_col).asc()]
    w = Window.partitionBy(*keys).orderBy(*order)
    ranked = cand.withColumn(rank_col, F.row_number().over(w)).where(
        F.col(rank_col) <= k
    )
    # verify: a key with >= k rows must yield k ranked rows
    got = {
        tuple(r[kc] for kc in keys): r["n"]
        for r in ranked.groupBy(*keys).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    short = [
        r for r in counts
        if min(r["n"], k) > got.get(tuple(r[kc] for kc in keys), 0)
    ]
    if short:
        cond = F.lit(False)
        for r in short:
            c = None
            for kc in keys:
                cc = F.col(kc) == r[kc]
                c = cc if c is None else (c & cc)
            cond = cond | c
        redo = (
            df.where(cond)
            .withColumn(rank_col, F.row_number().over(w))
            .where(F.col(rank_col) <= k)
        )
        keep = ~cond
        ranked = ranked.where(keep).unionByName(redo)
    return ranked


def mixture_thresholds(counts: dict, weights: dict, mask: int = 1023) -> dict:
    """Per-stratum hash thresholds that rebalance observed ``counts`` to
    the target ``weights`` mixture with MAXIMUM retention.

    Pure integer arithmetic (so an external engine reproduces the exact
    thresholds): ``K = min_s(n_s * (mask+1) // w_s)`` is the scale set by
    the scarcest stratum relative to its target share, and
    ``threshold_s = w_s * K // n_s`` keeps each stratum's expected volume
    ∝ ``w_s``. The binding stratum's threshold is ~``mask+1`` (kept
    whole); abundant strata are downsampled. Strata absent from
    ``weights`` get no threshold (dropped by the sampler's default)."""
    if mask & (mask + 1):
        raise ValueError("mask must be 2^k - 1")
    bad = sorted(s for s, w in weights.items() if w < 0)
    if bad:
        raise ValueError(f"mixture weights must be >= 0; negative for strata {bad}")
    # w == 0 means "drop this stratum": it gets no threshold (the
    # sampler's default drops unlisted strata) and never binds K
    live = {s: w for s, w in weights.items() if w > 0 and counts.get(s)}
    if not live:
        return {}
    K = min(counts[s] * (mask + 1) // w for s, w in live.items())
    return {s: w * K // counts[s] for s, w in live.items()}


def mixture_strata_counts(df: DataFrame, strata_col: str) -> dict:
    """The per-stratum count dict :func:`mixture_sample` derives its
    thresholds from — exposed so a caller composing several eager steps
    can run this one blocking aggregate from a thread (guide §2.6) and
    pass the result via ``counts=``."""
    return {
        r["s"]: r["n"]
        for r in df.groupBy(F.col(strata_col).alias("s"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }


def mixture_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    weights: dict,
    mask: int = 1023,
    native: bool = True,
    counts: dict | None = None,
) -> DataFrame:
    """Rebalance a multi-source corpus to a target mixture: keep each
    stratum at the deterministic hash rate that makes retained volumes
    proportional to ``weights``, dropping nothing from the scarcest
    stratum. ONE count aggregate collects #strata rows to the driver
    (metadata-scale); the sample itself is a pure map-side predicate —
    the training-data "mix sources at 3:1:1" shape with
    ``hash_sample``'s reproducibility.

    ``counts`` (r15): pre-collected :func:`mixture_strata_counts` rows —
    the ``antijoin_filter(blobs=)`` pattern: the default blocks plan
    construction on a Spark job; a caller overlapping eager steps builds
    the counts concurrently and passes them in. MUST be the counts of
    ``df`` itself, or the thresholds no longer match the corpus."""
    if counts is None:
        counts = mixture_strata_counts(df, strata_col)
    thresholds = mixture_thresholds(counts, weights, mask)
    return stratified_hash_sample(
        df, key_col, strata_col, thresholds, 0, mask, native
    )


def temperature_weights(counts: dict, tau: float, scale: int = 10_000) -> dict:
    """Temperature-flattened mixture targets: ``w_s ∝ n_s^tau``, the
    standard multilingual/multi-source rebalancing (mBERT/XLM-R style,
    Conneau et al. 2020 §3.1: sample language s with p_s ∝ n_s^alpha)
    — ``tau=1`` preserves natural proportions, ``tau=0`` forces uniform,
    ``0<tau<1`` upweights scarce sources without drowning abundant ones.

    Returns INTEGER weights (largest = ``scale``, every live stratum
    >= 1) so they compose with :func:`mixture_thresholds`'s exact
    integer arithmetic and stay reproducible by an external engine.
    Driver-side over the metadata-scale counts dict."""
    if tau < 0:
        raise ValueError("tau must be >= 0")
    live = {s: n for s, n in counts.items() if n > 0}
    if not live:
        return {}
    mx = max(n**tau for n in live.values())
    return {s: max(1, round(scale * (n**tau) / mx)) for s, n in live.items()}


def temperature_mixture_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    tau: float,
    mask: int = 1023,
    native: bool = True,
) -> DataFrame:
    """`mixture_sample` with targets derived from the observed counts by
    temperature flattening — one metadata-scale count collect feeds both
    the targets and the thresholds; the sample stays a map-side hash
    predicate."""
    counts = {
        r["s"]: r["n"]
        for r in df.groupBy(F.col(strata_col).alias("s"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    thresholds = mixture_thresholds(counts, temperature_weights(counts, tau), mask)
    return stratified_hash_sample(
        df, key_col, strata_col, thresholds, 0, mask, native
    )


def split_edges(weights: dict, mask: int = 1023) -> list:
    """The bucket edges ``hash_split`` uses — exposed so an oracle (or an
    external engine) can reproduce the exact assignment."""
    n_buckets = mask + 1
    total = sum(weights.values())
    edges, edge = [], 0
    for lab in list(weights)[:-1]:
        edge += weights[lab] * n_buckets // total
        edges.append((lab, edge))
    return edges


def cap_per_group(
    df: DataFrame,
    key_col: str,
    group_col: str,
    k: int,
    native: bool = True,
) -> DataFrame:
    """Keep at most ``k`` rows per group, deterministically: the k rows
    whose key-hash (then key, as tiebreak) ranks smallest within the
    group — a reproducible uniform-without-replacement sample per group.

    The training-data "per-domain cap" shape (RefinedWeb/FineWeb-style:
    bound any single domain's share of the corpus) with
    ``hash_sample``'s properties: stable under repartitioning, identical
    across engines with ``native=False`` (DuckDB-parity hash), and
    correlated across tables sharing the key.

    One shuffle on ``group_col``; rank is a per-group window. SKEW NOTE:
    a pathologically hot group (≫ rows/partition) sorts in one task. If
    that profile is expected, pre-thin it map-side first: per-group
    counts (metadata-scale, like ``mixture_sample``) give a hash
    threshold ≈ a few × k/n_g, whose survivors this exact window then
    ranks — same result, bounded task size.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    from pyspark.sql import Window

    h = spark_hash64(key_col) if native else duckdb_hash("v1.0.0", key_col)
    # rank in UNSIGNED hash order: the i64 column carries a u64 value, and
    # an external engine (DuckDB UBIGINT) sorts it unsigned — XOR-ing the
    # sign bit makes the signed sort agree
    h_unsigned = h.bitwiseXOR(F.lit(-(1 << 63)))
    w = Window.partitionBy(group_col).orderBy(h_unsigned.asc(), F.col(key_col).asc())
    return (
        df.withColumn("__rank", F.row_number().over(w))
        .where(F.col("__rank") <= k)
        .drop("__rank")
    )


def weighted_hash_sample(
    df: DataFrame,
    key_col: str,
    weight_col,
    native: bool = True,
    bits: int = 20,
) -> DataFrame:
    """Keep each row with its OWN probability ``weight_col`` ∈ [0, 1]
    (importance sampling — e.g. retain docs proportionally to a quality
    score), deterministically: the row survives iff its key-hash's low
    ``bits`` bits fall under ``floor(weight * 2^bits)``.

    Same guarantees as ``hash_sample``: map-side predicate (zero
    shuffle), stable under repartitioning, reproducible across engines
    with ``native=False``, and correlated across tables sharing the key
    — a row kept at weight w stays kept at any weight ≥ w, so
    tightening a quality threshold only removes rows, never reshuffles
    the sample. Weights outside [0, 1] are clamped (NULL drops the row).
    """
    from pyspark.sql import functions as F

    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    mask = (1 << bits) - 1
    h = spark_hash64(key_col) if native else duckdb_hash("v1.0.0", key_col)
    thresh = F.floor(
        F.least(F.greatest(w, F.lit(0.0)), F.lit(1.0)) * (mask + 1)
    )
    return df.where(h.bitwiseAND(F.lit(mask)) < thresh)


def top_per_group(
    df: DataFrame,
    group_col: str,
    order_by: list,
    k: int,
    id_col: str | None = None,
) -> DataFrame:
    """Keep the ``k`` BEST rows per group under an explicit ranking —
    the quality-ranked per-domain cap ("keep each domain's k
    highest-quality pages"), completing the family:
    ``cap_per_group`` is this with hash order (uniform sample),
    ``dedup_best`` is this with k=1 grouped by fingerprint.

    ``order_by`` is a list of Columns (e.g. ``[F.col("score").desc()]``);
    ``id_col`` appends a deterministic tiebreak. One shuffle on
    ``group_col``, per-group window rank — the same skew note as
    ``cap_per_group`` applies to pathologically hot groups."""
    if k <= 0:
        raise ValueError("k must be positive")
    from pyspark.sql import Window

    order = list(order_by)
    if id_col is not None:
        order.append(F.col(id_col).asc())
    w = Window.partitionBy(group_col).orderBy(*order)
    return (
        df.withColumn("__rank", F.row_number().over(w))
        .where(F.col("__rank") <= k)
        .drop("__rank")
    )


def mine_contrastive_triplets(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    k_negatives: int = 4,
    negative_pool: int = 1024,
    mask: int = 1023,
    native: bool = True,
) -> DataFrame:
    """(anchor, positive, negative) training triplets for contrastive /
    embedding models: every verified near-dup pair (the output of
    `minhash_lsh_pairs` / `shingle_jaccard_pairs` / `probe_lsh_index`)
    contributes (a, b) AND (b, a) as anchor-positive, each matched with
    ``k_negatives`` corpus documents that are NOT near-dups of the
    anchor.

    Negatives come from a deterministic hash-sampled POOL of
    ~``negative_pool`` docs (the `hash_sample` machinery — stable under
    repartitioning), broadcast against the anchors; each anchor
    deterministically picks the pool entries ranked nearest AFTER its
    own id-hash (a per-anchor rotation, so anchors don't all share one
    negative set), skipping any pool doc that is a true pair of the
    anchor (anti-join on the pair list, both orientations). Plan: pairs
    x pool broadcast join + one anti-join — the corpus is touched only
    by the map-side pool sample."""
    if k_negatives <= 0:
        raise ValueError("k_negatives must be positive")
    from pyspark.sql import Window

    n_docs = docs.count()
    if n_docs == 0:
        return pairs.sparkSession.createDataFrame(
            [], "anchor long, positive long, negative long"
        )
    rate = min(1.0, float(negative_pool) / n_docs)
    thr = max(1, round(rate * (mask + 1)))
    pool = hash_sample(
        docs.select(id_col), id_col, thr, mask=mask, native=native
    ).select(F.col(id_col).alias("negative"))
    anchors = (
        pairs.select(F.col("id_a").alias("anchor"), F.col("id_b").alias("positive"))
        .unionByName(
            pairs.select(F.col("id_b").alias("anchor"), F.col("id_a").alias("positive"))
        )
        .distinct()
    )
    cand = anchors.join(F.broadcast(pool), F.col("negative") != F.col("anchor"))
    # exclude true pairs of the anchor (either orientation)
    bad = pairs.select(
        F.col("id_a").alias("anchor"), F.col("id_b").alias("negative")
    ).unionByName(
        pairs.select(F.col("id_b").alias("anchor"), F.col("id_a").alias("negative"))
    )
    cand = cand.join(bad, ["anchor", "negative"], "left_anti")
    # per-(anchor, negative) deterministic rank: anchors draw DIFFERENT
    # negative sets from the shared pool without any randomness source
    w = Window.partitionBy("anchor", "positive").orderBy(
        F.xxhash64("anchor", "negative").asc(), F.col("negative").asc()
    )
    return (
        cand.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= k_negatives)
        .select("anchor", "positive", "negative")
    )


def epoch_shuffle(
    df: DataFrame,
    key_col: str,
    epoch: int,
    n_partitions: int | None = None,
) -> DataFrame:
    """Deterministic per-epoch global shuffle for training dataloaders:
    rows order by ``xxhash64(key, epoch)`` — a different (but exactly
    reproducible) permutation every epoch, no RNG state to ship.

    Spark realization: ``repartitionByRange + sortWithinPartitions`` on
    the epoch hash, NOT a global ``orderBy`` — partitions hold disjoint
    hash ranges so writing them in partition order IS the permutation,
    and no single task ever sees the whole dataset. Downstream writers
    preserve it (parquet writes one file per partition in order)."""
    spark = df.sparkSession
    n_partitions = n_partitions or spark.sparkContext.defaultParallelism
    h = F.xxhash64(F.col(key_col), F.lit(int(epoch)))
    return (
        df.withColumn("__eh", h)
        .repartitionByRange(n_partitions, F.col("__eh"))
        .sortWithinPartitions("__eh", key_col)
        .drop("__eh")
    )


def leakage_safe_split(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    weights: dict,
    mask: int = 1023,
    split_col: str = "split",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """`hash_split` that cannot leak near-duplicates across splits: rows
    connected by ``pairs`` (near-dup edges from MinHash/SimHash/embedding
    dedup) are assigned as a UNIT — the split key is the connected
    component's minimum id, so a-b-c chains land together even when a
    and c were never directly paired. Unpaired rows split by their own
    id exactly as `hash_split` would.

    The standard eval-contamination guard: a val/test document whose
    near-twin sits in train measures memorization, not generalization
    (Lee et al. 2022 §6.2 measure exactly this effect).

    Plan: components over the (tiny, derived) edge list + one left join
    of (id → component) longs onto the corpus — broadcastable at scale —
    then the same map-side CASE as `hash_split`."""
    from .clustering import connected_components

    comp = connected_components(pairs, id_a, id_b).select(
        F.col("id").alias("__cid"), F.col("component").alias("__grp")
    )
    keyed = df.join(
        comp, df[id_col] == comp["__cid"], "left"
    ).withColumn("__key", F.coalesce("__grp", F.col(id_col))).drop(
        "__cid", "__grp"
    )
    return hash_split(keyed, "__key", weights, mask, split_col).drop("__key")


def curriculum_order(
    df: DataFrame,
    key_col: str,
    score_col: str,
    n_stages: int,
    epoch: int = 0,
    n_partitions: int | None = None,
    stage_col: str = "stage",
) -> DataFrame:
    """Curriculum ordering for training dataloaders: rows sort by
    (difficulty stage, per-epoch hash) — easy stages stream first, and
    WITHIN a stage the order is `epoch_shuffle`'s deterministic
    permutation (curriculum without intra-stage shuffling just replays
    score order, which over-correlates neighbors).

    Stages are equal-population score quantiles (approx_percentile, one
    aggregate collecting n_stages-1 numbers). Same physical plan shape
    as `epoch_shuffle`: repartitionByRange on (stage, hash) +
    sortWithinPartitions — partition files written in order ARE the
    curriculum, no global sort bottleneck."""
    if n_stages < 1:
        raise ValueError("n_stages must be >= 1")
    spark = df.sparkSession
    n_partitions = n_partitions or spark.sparkContext.defaultParallelism
    if n_stages == 1:
        out = df.withColumn(stage_col, F.lit(0))
    else:
        qs = df.agg(
            F.percentile_approx(
                score_col,
                [i / n_stages for i in range(1, n_stages)],
                10_000,
            ).alias("qs")
        ).collect()[0]["qs"] or []  # empty input: no edges, stage 0
        stage = F.lit(n_stages - 1) if qs else F.lit(0)
        for i, edge in reversed(list(enumerate(qs))):
            stage = F.when(F.col(score_col) <= F.lit(edge), F.lit(i)).otherwise(stage)
        out = df.withColumn(stage_col, stage)
    h = F.xxhash64(F.col(key_col), F.lit(int(epoch)))
    return (
        out.withColumn("__eh", h)
        .repartitionByRange(n_partitions, F.col(stage_col), F.col("__eh"))
        .sortWithinPartitions(stage_col, "__eh", key_col)
        .drop("__eh")
    )


def allocate_token_budget(
    df: DataFrame,
    domain_col: str,
    tokens_col: str,
    budget: int,
    n_partitions: int | None = None,
) -> DataFrame:
    """Water-filling token-budget allocation across domains: the level
    theta with sum_d min(T_d, theta) = budget, so every domain keeps all
    its tokens up to a common cap and the surplus of huge domains funds
    full retention of small ones — the principled form of "cap the head,
    keep the tail" that a fixed per-domain cap (#52 cap_per_group) or
    temperature mixing (#102) only approximate. Output one row per
    domain: (domain, tokens, cap = min(tokens, theta), keep_frac);
    feed keep_frac into weighted_hash_sample / mixture_sample to realize
    the allocation, or cap directly into pack-time budgets.

    Distributed closed form, no driver-side domain table: per-domain
    totals T_d are one map-side-combined aggregate; domains sort
    ascending by (T, domain) with the pack_shards two-phase prefix sum
    (range partition -> P partial sums to the driver -> broadcast
    offsets, never a one-partition window); each row i then tests its
    own segment candidate theta_i = (budget - P_i) / (D - i), and
        theta = max(budget / D, max over { theta_i : theta_i >= T_i })
    — the max formulation needs no lead/lag, so the scan stays one pass.
    Correctness of the max form over the classic "unique valid segment"
    characterization is property-tested against a brute-force
    water-filler. Everything after the stats aggregate runs at
    #domains scale (metadata, not corpus).

    budget >= sum(T) degenerates to cap = T (theta clears every domain).
    Zero-token domains keep cap = 0, keep_frac = 0.
    """
    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    if budget < 0:
        raise ValueError("budget must be >= 0")
    spark = df.sparkSession
    n_partitions = n_partitions or spark.sparkContext.defaultParallelism
    stats = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.sum(F.coalesce(F.col(tokens_col).cast("long"), F.lit(0))).alias("tokens")
    )
    # localCheckpoint, not cache: the broadcast offsets below are only
    # valid for THIS materialization's range boundaries (same reasoning
    # as pack_shards)
    parts = (
        stats.repartitionByRange(n_partitions, F.col("tokens"), F.col("domain"))
        .sortWithinPartitions("tokens", "domain")
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint()
    )
    partials = {
        r["__pid"]: (r["t"], r["c"])
        for r in parts.groupBy("__pid")
        .agg(F.sum("tokens").alias("t"), F.count(F.lit(1)).alias("c"))
        .collect()
    }
    max_pid = max(partials, default=-1)
    tok_off, cnt_off = {}, {}
    run_t = run_c = 0
    for pid in range(max_pid + 1):
        tok_off[pid], cnt_off[pid] = run_t, run_c
        t, c = partials.get(pid, (0, 0))
        run_t += t
        run_c += c
    total_t, n_domains = run_t, run_c
    if n_domains == 0:
        return stats.select(
            "domain",
            "tokens",
            F.lit(0.0).alias("cap"),
            F.lit(0.0).alias("keep_frac"),
        )

    dtype = parts.schema["domain"].dataType
    cand_schema = StructType(
        [
            StructField("domain", dtype),
            StructField("tokens", LongType()),
            StructField("cand", DoubleType()),
        ]
    )
    B, D = float(budget), n_domains

    def candidates(batches):
        local_t = local_i = None
        for pdf in batches:
            if not len(pdf):
                continue
            if local_t is None:
                pid = int(pdf["__pid"].iloc[0])
                local_t, local_i = tok_off.get(pid, 0), cnt_off.get(pid, 0)
            import numpy as np

            ws = pdf["tokens"].to_numpy(dtype=np.int64)
            p = local_t + ws.cumsum()  # inclusive prefix P_i
            i = local_i + np.arange(1, len(ws) + 1)  # global 1-based rank
            local_t += int(ws.sum())
            local_i += len(ws)
            with np.errstate(divide="ignore", invalid="ignore"):
                theta_i = (B - p) / (D - i)  # i == D -> inf/nan, masked below
            valid = (i < D) & (theta_i >= ws)
            yield pd.DataFrame(
                {
                    "domain": pdf["domain"],
                    "tokens": ws,
                    "cand": np.where(valid, theta_i, -np.inf),
                }
            )

    cands = parts.mapInPandas(candidates, schema=cand_schema)
    # ONE number leaves the cluster: theta (B/D is the always-valid i=0
    # segment candidate)
    theta_row = cands.agg(
        F.greatest(F.lit(B / D), F.max("cand")).alias("__theta")
    )
    return (
        cands.select("domain", "tokens")
        .crossJoin(F.broadcast(theta_row))
        .select(
            "domain",
            "tokens",
            F.least(F.col("tokens").cast("double"), F.col("__theta")).alias("cap"),
            F.when(
                F.col("tokens") > 0,
                F.least(F.col("tokens").cast("double"), F.col("__theta"))
                / F.col("tokens"),
            )
            .otherwise(F.lit(0.0))
            .alias("keep_frac"),
        )
    )


def allocate_weighted_budget(
    df: DataFrame,
    key_col: str,
    capacity_col: str,
    weight_col: str,
    budget: float,
    n_partitions: int | None = None,
) -> DataFrame:
    """Weighted water-filling: allocate a global budget across keys
    PROPORTIONAL TO WEIGHT but capped at each key's capacity —
    ``alloc_k = min(cap_k, w_k * lambda)`` with lambda solving
    ``sum_k alloc_k = budget`` (or every key capped when the budget
    clears total capacity). The crawl-budget form of
    `allocate_token_budget` (#124, the w == 1 special case): keys are
    hosts, capacity the frontier URL count, weight the host's
    authority (`graph.pagerank` / `graph.hits`), and the allocation is
    the per-host fetch budget — surplus from saturated low-authority
    hosts funds deeper crawls of high-authority ones.

    Output one row per key: (key, capacity, weight, alloc, fill_frac).
    Rows sharing a key aggregate additively before allocation. Keys
    with weight <= 0 (or NULL) get alloc = 0 — no authority, no budget
    — as do keys with capacity <= 0.

    Same distributed closed form as #124, generalized: keys sort
    ascending by the saturation ratio cap/w (two-phase prefix sums —
    range partition, P partial sums to the driver, broadcast offsets);
    row i's segment candidate is ``lambda_i = (B - P_i) / (W - Q_i)``
    over the inclusive capacity/weight prefixes, valid when
    ``lambda_i >= ratio_i``, and ``lambda = max(B/W, max valid
    lambda_i)`` — the same max-formulation correctness argument as
    #124 (assuming too few saturated keys underestimates, too many
    strictly underestimates), property-tested against a brute-force
    bisection water-filler. Everything after the stats aggregate runs
    at #keys scale."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    if budget < 0:
        raise ValueError("budget must be >= 0")
    spark = df.sparkSession
    n_partitions = n_partitions or spark.sparkContext.defaultParallelism
    stats = df.groupBy(F.col(key_col).alias("key")).agg(
        F.sum(F.coalesce(F.col(capacity_col).cast("double"), F.lit(0.0))).alias(
            "capacity"
        ),
        F.sum(F.coalesce(F.col(weight_col).cast("double"), F.lit(0.0))).alias(
            "weight"
        ),
    )
    dead = stats.where((F.col("weight") <= 0) | (F.col("capacity") <= 0)).select(
        "key",
        "capacity",
        "weight",
        F.lit(0.0).alias("alloc"),
        F.lit(0.0).alias("fill_frac"),
    )
    live = stats.where((F.col("weight") > 0) & (F.col("capacity") > 0))
    parts = (
        live.withColumn("__r", F.col("capacity") / F.col("weight"))
        .repartitionByRange(n_partitions, F.col("__r"), F.col("key"))
        .sortWithinPartitions("__r", "key")
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint()
    )
    partials = {
        r["__pid"]: (r["c"], r["w"], r["n"])
        for r in parts.groupBy("__pid")
        .agg(
            F.sum("capacity").alias("c"),
            F.sum("weight").alias("w"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    max_pid = max(partials, default=-1)
    cap_off, w_off, cnt_off = {}, {}, {}
    run_c = run_w = 0.0
    run_n = 0
    for pid in range(max_pid + 1):
        cap_off[pid], w_off[pid], cnt_off[pid] = run_c, run_w, run_n
        c, w, n = partials.get(pid, (0.0, 0.0, 0))
        run_c += c
        run_w += w
        run_n += n
    total_cap, total_w, n_keys = run_c, run_w, run_n
    if n_keys == 0:
        return dead
    if budget >= total_cap:
        # budget clears every capacity: lambda past the last ratio
        full = parts.select(
            "key",
            "capacity",
            "weight",
            F.col("capacity").alias("alloc"),
            F.lit(1.0).alias("fill_frac"),
        )
        return full.unionByName(dead)

    out_schema = StructType(
        [
            StructField("key", parts.schema["key"].dataType),
            StructField("capacity", DoubleType()),
            StructField("weight", DoubleType()),
            StructField("cand", DoubleType()),
        ]
    )
    B, W, D = float(budget), total_w, n_keys

    def candidates(batches):
        local_c = local_w = None
        local_i = 0
        for pdf in batches:
            if not len(pdf):
                continue
            if local_c is None:
                pid = int(pdf["__pid"].iloc[0])
                local_c = cap_off.get(pid, 0.0)
                local_w = w_off.get(pid, 0.0)
                local_i = cnt_off.get(pid, 0)
            cs = pdf["capacity"].to_numpy(dtype=np.float64)
            ws = pdf["weight"].to_numpy(dtype=np.float64)
            p = local_c + cs.cumsum()  # inclusive prefix of capacity
            q = local_w + ws.cumsum()  # inclusive prefix of weight
            i = local_i + np.arange(1, len(cs) + 1)
            local_c += float(cs.sum())
            local_w += float(ws.sum())
            local_i += len(cs)
            with np.errstate(divide="ignore", invalid="ignore"):
                lam_i = (B - p) / (W - q)  # i == D -> masked below
            valid = (i < D) & (lam_i >= cs / ws)
            yield pd.DataFrame(
                {
                    "key": pdf["key"],
                    "capacity": cs,
                    "weight": ws,
                    "cand": np.where(valid, lam_i, -np.inf),
                }
            )

    cands = parts.mapInPandas(candidates, schema=out_schema)
    lam_row = cands.agg(
        F.greatest(F.lit(B / W), F.max("cand")).alias("__lam")
    )
    filled = (
        cands.select("key", "capacity", "weight")
        .crossJoin(F.broadcast(lam_row))
        .select(
            "key",
            "capacity",
            "weight",
            F.least(F.col("capacity"), F.col("weight") * F.col("__lam")).alias(
                "alloc"
            ),
            (
                F.least(F.col("capacity"), F.col("weight") * F.col("__lam"))
                / F.col("capacity")
            ).alias("fill_frac"),
        )
    )
    return filled.unionByName(dead)


def mine_hard_negatives(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    k_negatives: int = 4,
    n_centroids: int = 64,
    max_cell: int = 4096,
    seed: int = 42,
    centroids=None,
) -> DataFrame:
    """(anchor, positive, negative, neg_sim) — `mine_contrastive_triplets`
    with HARD negatives: instead of hash-random corpus docs, each
    anchor's negatives are its most-cosine-similar NON-positives (the
    modern embedding-training recipe — random negatives quickly become
    trivial and the gradient signal dies; hard negatives keep the margin
    binding). ``neg_sim`` rides along so curricula can anneal hardness.

    Spark shape — NO driver-side query collect (anchors are pair-list
    scale, far past the `cosine_topk` broadcast contract): the coarse
    quantizer routes every vector once (the `ivf_topk` assignment), and
    candidates come from a CELL-local self-join — anchor rows join
    their own cell's members, cosine is a pure higher-order `zip_with`
    dot product over the stored normalized vectors (JVM, no UDF), true
    pairs (both orientations) and self anti-join away, and one window
    takes the top ``k_negatives`` per anchor (sim desc, id tiebreak).
    Cost ∝ Σ|cell|·|anchors ∩ cell| — bounded like SemDeDup's by the
    quantizer, with the `chain_order_within_cells` skew guard: a cell
    over ``max_cell`` splits into contiguous-id blocks and negatives
    mine block-locally (still same-cell near neighbors; the trade is
    documented, not silent). Deterministic given the quantizer."""
    from pyspark.sql import Window

    from ._vectors import route
    from .similarity import ivf_centroids

    if k_negatives <= 0:
        raise ValueError("k_negatives must be positive")
    if max_cell < 1:
        raise ValueError("max_cell must be >= 1")
    C = centroids if centroids is not None else ivf_centroids(
        docs, vec_col, n_centroids, seed=seed
    )
    routed = route(docs, id_col, vec_col, C)
    wcell = Window.partitionBy("cell").orderBy("id")
    routed = routed.withColumn(
        "blk",
        ((F.row_number().over(wcell) - 1) / F.lit(max_cell)).cast("long"),
    ).localCheckpoint(eager=False)

    anchors = pairs.select(
        F.col("id_a").alias("anchor"), F.col("id_b").alias("positive")
    ).unionByName(
        pairs.select(
            F.col("id_b").alias("anchor"), F.col("id_a").alias("positive")
        )
    )
    avecs = routed.select(
        "cell", "blk", F.col("id").alias("anchor"), F.col("vec").alias("__av")
    ).join(anchors.select("anchor").distinct(), "anchor")
    cand = avecs.join(
        routed.select("cell", "blk", F.col("id").alias("negative"), "vec"),
        ["cell", "blk"],
    ).where(F.col("negative") != F.col("anchor"))
    # drop true pairs in BOTH orientations (a positive must never be
    # served as a negative)
    truth = anchors.select(
        "anchor", F.col("positive").alias("negative")
    ).distinct()
    cand = cand.join(truth, ["anchor", "negative"], "left_anti")
    sim = F.aggregate(
        F.zip_with("__av", "vec", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = cand.withColumn("neg_sim", sim).select(
        "anchor", "negative", "neg_sim"
    )
    w = Window.partitionBy("anchor").orderBy(
        F.col("neg_sim").desc(), F.col("negative")
    )
    topk = (
        scored.withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") <= k_negatives)
        .drop("__r")
    )
    return anchors.join(topk, "anchor").select(
        "anchor", "positive", "negative", "neg_sim"
    )
