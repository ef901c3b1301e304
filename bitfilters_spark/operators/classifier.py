"""Trainable quality classifier (#99): hashed bag-of-tokens logistic
regression, trained with distributed full-batch gradient descent where
EVERY per-example computation is a DataFrame aggregation.

This is the standard "quality classifier" stage of LLM data pipelines
(GPT-3/LLaMA-style: score web pages against a high-quality reference
corpus with a fasttext-like linear model, keep by score/threshold) —
heuristic rules (`gopher_rules`, `quality_metrics`) catch junk; a
TRAINED model catches what rules can't. Linear + hashed features is the
fasttext recipe (Joulin et al. 2016, "Bag of Tricks for Efficient Text
Classification").

Scale shape per training iteration (all sizes named):
  - features (id, bucket, cnt): corpus-scale, built ONCE, cached, and
    hash-partitioned by id so the per-iteration join reuses the layout.
  - weight table (bucket, w): model-scale (<= n_buckets rows),
    broadcast; the margin computation is a map-side join + one groupBy
    on id.
  - gradient (bucket, g): model-scale groupBy output; the ONLY data
    collected per iteration is <= n_buckets + 1 rows. The driver holds
    weights only — never examples.
So per iteration: one broadcast join, two shuffles (margin groupBy on
id reuses the cached partitioning; gradient groupBy on bucket), one
model-scale collect. At 100 TB the corpus-scale work is embarrassingly
parallel and the driver state is a few MB of float64 weights.

Scoring (`classifier_score`) is the same broadcast join + groupBy —
pure JVM expressions, no Python in the row loop.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import tokens


def hashed_features(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 1 << 17,
    normalize: bool = True,
) -> DataFrame:
    """(id, bucket, cnt) — token frequencies hashed into ``n_buckets``
    via pmod(xxhash64(token)) (the hashing trick: fixed-width feature
    space, no vocabulary pass). Pure JVM explode + groupBy + one window-
    free ratio.

    ``normalize`` (default) L2-normalizes each document's count vector
    (unit feature norm). Two birds: full-batch GD is well-conditioned —
    every example contributes curvature ≤ 1/4 in feature directions,
    exactly matching the intercept's, so one scale-free ``lr`` works for
    any corpus (unnormalized sums make the effective step grow with
    document length and diverge; L1 means shrink it with length and
    crawl) — and long documents can't dominate the decision the way raw
    counts let them."""
    raw = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(tokens(text_col)).alias("__tok"),
        )
        .where(F.col("__tok") != "")
        .select("id", F.pmod(F.xxhash64("__tok"), F.lit(n_buckets)).alias("bucket"))
        .groupBy("id", "bucket")
        .agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    )
    if not normalize:
        return raw
    totals = raw.groupBy("id").agg(F.sqrt(F.sum(F.col("cnt") * F.col("cnt"))).alias("__n"))
    return raw.join(totals, "id").select(
        "id", "bucket", (F.col("cnt") / F.col("__n")).alias("cnt")
    )


def _local_df(spark, schema: str, **columns: np.ndarray) -> DataFrame:
    """A driver-side model table as a LocalRelation, sent through Arrow.
    A pandas or row input without Arrow becomes a pickled Python RDD,
    which reruns Python tasks on every action over it (10 training
    iterations on an 8-document corpus, 4 cores: 11.2 s that way,
    6.9 s through Arrow)."""
    return spark.createDataFrame(pa.table(columns), schema=schema)


def _weight_df(spark, w: np.ndarray) -> DataFrame:
    nz = np.nonzero(w)[0]
    return _local_df(spark, "bucket long, w double", bucket=nz.astype("int64"), w=w[nz])


def _margins(
    feats: DataFrame, labels: DataFrame, wdf: DataFrame, bias: float
) -> DataFrame:
    """(id, y, margin) from cached features + broadcast weight table.

    LEFT join from the labels so documents with ZERO tokens (no feature
    rows) still appear with margin = bias: they contribute
    ``sigmoid(bias) - y`` to the bias gradient and their log-loss term,
    instead of silently vanishing while the 1/n scaling still counts
    them (the r7 advisory bug)."""
    dots = (
        feats.join(F.broadcast(wdf), "bucket", "left")
        .groupBy("id")
        .agg(F.sum(F.coalesce(F.col("w"), F.lit(0.0)) * F.col("cnt")).alias("__dot"))
    )
    return labels.join(dots, "id", "left").select(
        "id",
        "y",
        (F.coalesce(F.col("__dot"), F.lit(0.0)) + F.lit(float(bias))).alias(
            "margin"
        ),
    )


def _sgd_step(
    feats: DataFrame,
    labels: DataFrame,
    n: float,
    w: np.ndarray,
    bias: float,
    lr: float,
    l2: float,
) -> tuple[float, float]:
    """One full-gradient step over cached ``feats``/``labels`` (``n``
    labelled rows): updates ``w`` in place and returns the new bias and
    the mean log-loss at the step's starting weights."""
    m = _margins(feats, labels, _weight_df(feats.sparkSession, w), bias)
    errs = m.select(
        "id",
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin"))) - F.col("y"))
        .alias("err"),
        # numerically-stable log-loss: log(1+e^m) - y*m, with the
        # standard max(m,0) rewrite so e^|m| never overflows
        (
            F.greatest(F.col("margin"), F.lit(0.0))
            + F.log1p(F.exp(-F.abs(F.col("margin"))))
            - F.col("y") * F.col("margin")
        ).alias("ll"),
    ).persist()  # consumed by both union branches below
    # ONE model-scale collect per step: the per-bucket gradients plus a
    # sentinel row (bucket = -1) carrying the bias gradient in `g` and
    # the summed log-loss in `ll` — per-step driver round-trips halve vs
    # separate gradient/scalar actions
    grad_rows = (
        errs.join(feats.select("id", "bucket", "cnt"), "id")
        .groupBy("bucket")
        .agg(
            F.sum(F.col("err") * F.col("cnt")).alias("g"),
            F.lit(0.0).alias("ll"),
        )
        .unionByName(
            errs.select(
                F.lit(-1).cast("long").alias("bucket"),
                F.col("err").alias("g"),
                F.col("ll"),
            ).groupBy("bucket").agg(
                F.sum("g").alias("g"), F.sum("ll").alias("ll")
            )
        )
        .collect()
    )
    errs.unpersist()

    g = np.zeros(w.shape[0], dtype="float64")
    be = ll = 0.0
    for r in grad_rows:
        if r["bucket"] < 0:
            be, ll = float(r["g"]), float(r["ll"])
        else:
            g[int(r["bucket"])] = float(r["g"])
    w -= lr * (g / n + l2 * w)
    return bias - lr * be / n, ll / n


def train_text_classifier(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    n_buckets: int = 1 << 17,
    iters: int = 30,
    lr: float = 2.0,
    l2: float = 0.0,
) -> dict:
    """Full-batch logistic regression via distributed gradient descent.

    ``label_col`` is 0/1. Returns ``{"weights": np.float64[n_buckets],
    "bias": float, "n_buckets": int, "losses": [mean log-loss per
    iter]}``. Deterministic: full-batch (no sampling), float64, zero
    init. The learning rate is per-mean-gradient (gradient is divided
    by n), so ``lr`` is scale-free in corpus size."""
    # NULL labels would silently inflate n while contributing zero
    # gradient — shrinking the effective learning rate with no signal
    # that anything is wrong. Unlabeled rows are a caller bug: drop them
    # HERE (from features too) so n counts exactly the gradient rows.
    df = df.where(F.col(label_col).isNotNull())
    labels = df.select(
        F.col(id_col).alias("id"), F.col(label_col).cast("double").alias("y")
    )
    labels = labels.persist()
    feats = (
        hashed_features(df, id_col, text_col, n_buckets)
        .repartition("id")
        .persist()
    )
    n = float(labels.count())
    if n == 0:
        raise ValueError("empty training set")

    w = np.zeros(n_buckets, dtype="float64")
    bias = 0.0
    losses: list[float] = []
    for _ in range(iters):
        bias, loss = _sgd_step(feats, labels, n, w, bias, lr, l2)
        losses.append(loss)
    feats.unpersist()
    labels.unpersist()
    return {"weights": w, "bias": bias, "n_buckets": n_buckets, "losses": losses}


def classifier_score(
    df: DataFrame, id_col: str, text_col: str, model: dict
) -> DataFrame:
    """(id, score) — P(label=1) per document under the trained model.
    Broadcast weight join + one groupBy; sigmoid is a JVM expression."""
    spark = df.sparkSession
    feats = hashed_features(df, id_col, text_col, model["n_buckets"])
    wdf = _weight_df(spark, np.asarray(model["weights"], dtype="float64"))
    m = (
        feats.join(F.broadcast(wdf), "bucket", "left")
        .groupBy("id")
        .agg(
            (F.sum(F.coalesce(F.col("w"), F.lit(0.0)) * F.col("cnt"))
             + F.lit(float(model["bias"]))).alias("margin")
        )
    )
    scored = m.select(
        F.col("id").alias(id_col),
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin")))).alias("score"),
    )
    # documents with zero tokens produce no feature rows; give them the
    # bias-only score instead of dropping them
    base = 1.0 / (1.0 + math.exp(-float(model["bias"])))
    return (
        df.select(F.col(id_col))
        .join(scored, id_col, "left")
        .select(id_col, F.coalesce("score", F.lit(base)).alias("score"))
    )


def classifier_filter(
    df: DataFrame, id_col: str, text_col: str, model: dict, threshold: float = 0.5
) -> DataFrame:
    """Keep documents scoring >= threshold (the pipeline gate form)."""
    keep = classifier_score(df, id_col, text_col, model).where(
        F.col("score") >= threshold
    )
    return df.join(keep.select(id_col), id_col, "semi")


def save_classifier(spark, model: dict, path: str) -> None:
    """Persist a trained classifier as parquet: one row per NONZERO
    bucket (sparse — untouched buckets don't serialize) plus a metadata
    row carrying bias and width. Same persisted-artifact contract as
    the LSH index / IVF centroids: train once, score every crawl."""
    w = np.asarray(model["weights"], dtype="float64")
    nz = np.nonzero(w)[0]
    pdf = pd.DataFrame({"bucket": nz.astype("int64"), "w": w[nz]})
    spark.createDataFrame(pdf, "bucket long, w double").write.mode(
        "overwrite"
    ).parquet(f"{path}/weights")
    meta = pd.DataFrame(
        {"bias": [float(model["bias"])], "n_buckets": [int(model["n_buckets"])]}
    )
    spark.createDataFrame(meta, "bias double, n_buckets long").write.mode(
        "overwrite"
    ).parquet(f"{path}/meta")


def load_classifier(spark, path: str) -> dict:
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    w = np.zeros(int(meta["n_buckets"]), dtype="float64")
    for r in spark.read.parquet(f"{path}/weights").collect():
        w[int(r["bucket"])] = float(r["w"])
    return {
        "weights": w,
        "bias": float(meta["bias"]),
        "n_buckets": int(meta["n_buckets"]),
        "losses": [],
    }


def _class_weight_df(spark, W: np.ndarray) -> DataFrame:
    """Sparse long-format weight table (cls, bucket, w) — model-scale,
    broadcast into the feature join. Only nonzero entries serialize."""
    ks, bs = np.nonzero(W)
    return _local_df(
        spark, "cls long, bucket long, w double",
        cls=ks.astype("int64"), bucket=bs.astype("int64"), w=W[ks, bs],
    )


def _class_margins(
    feats: DataFrame, labels: DataFrame, cdf: DataFrame, wdf: DataFrame
) -> DataFrame:
    """(id, y, cls, margin) — one row per (document, class).

    The per-class dot products come from ONE broadcast join of the cached
    features against the long-format weight table (K rows per matched
    bucket) + a groupBy on (id, cls); the labels × classes frame (classes
    is a broadcast K-row DataFrame carrying each class's bias) LEFT-joins
    those dots so documents with zero tokens — and classes whose weights
    are still all-zero — keep margin = bias instead of vanishing."""
    dots = (
        feats.join(F.broadcast(wdf), "bucket")
        .groupBy("id", "cls")
        .agg(F.sum(F.col("w") * F.col("cnt")).alias("__dot"))
    )
    return (
        labels.crossJoin(F.broadcast(cdf))
        .join(dots, ["id", "cls"], "left")
        .select(
            "id",
            "y",
            "cls",
            (F.coalesce(F.col("__dot"), F.lit(0.0)) + F.col("__bias")).alias(
                "margin"
            ),
        )
    )


def train_langid_classifier(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    n_buckets: int = 1 << 15,
    iters: int = 30,
    lr: float = 2.0,
    l2: float = 0.0,
) -> dict:
    """Trained multi-class language ID (the fasttext langid recipe,
    Joulin et al. 2016, applied with this module's distributed trainer):
    full-batch SOFTMAX regression over hashed bag-of-token features —
    the multi-class extension of :func:`train_text_classifier` the
    stopword heuristic (`text.langid`) can't reach: it learns
    vocabulary the heuristic's 4 stopword lists don't cover and scales
    to any label set without hand-curated word lists.

    ``label_col`` holds arbitrary string labels; classes are their
    sorted distinct values (deterministic index assignment). Returns
    ``{"weights": float64[K, n_buckets], "bias": float64[K], "classes":
    [str], "n_buckets": int, "losses": [mean cross-entropy per iter]}``.

    Scale shape per iteration (same contract as the binary trainer —
    the driver holds MODEL state only, never examples): the margin
    computation is one broadcast join + a groupBy on (id, cls); the
    softmax normalizes inside a single id-partitioned window (one
    shuffle computes max and sum-exp together); the gradient groupBy
    emits ≤ K·n_buckets rows and the per-iteration collect is
    model-scale. K rides as a column, so nothing in the plan grows
    with the class count except row multiplicity."""
    from pyspark.sql import Window

    spark = df.sparkSession
    # a NULL label would make sorted() raise TypeError (None vs str) and
    # would inflate n with zero-gradient rows — drop unlabeled rows up
    # front (the train_text_classifier convention)
    df = df.where(F.col(label_col).isNotNull())
    classes = sorted(
        r[0] for r in df.select(F.col(label_col)).distinct().collect()
    )
    if not classes:
        raise ValueError("empty training set")
    k = len(classes)
    cls_idx = {c: i for i, c in enumerate(classes)}
    idx_expr = F.when(F.col(label_col) == classes[0], F.lit(0))
    for c in classes[1:]:
        idx_expr = idx_expr.when(F.col(label_col) == c, F.lit(cls_idx[c]))
    labels = df.select(
        F.col(id_col).alias("id"), idx_expr.cast("long").alias("y")
    ).persist()
    feats = (
        hashed_features(df, id_col, text_col, n_buckets)
        .repartition("id")
        .persist()
    )
    n = float(labels.count())

    W = np.zeros((k, n_buckets), dtype="float64")
    bias = np.zeros(k, dtype="float64")
    losses: list[float] = []
    win = Window.partitionBy("id")
    for _ in range(iters):
        cdf = _local_df(
            spark, "cls long, __bias double", cls=np.arange(k, dtype="int64"), __bias=bias
        )
        m = _class_margins(feats, labels, cdf, _class_weight_df(spark, W))
        # stable softmax entirely inside ONE id-partitioned window: both
        # the max and the sum of shifted exps come out of the same shuffle
        probs = m.select(
            "id",
            "y",
            "cls",
            (
                F.exp(F.col("margin") - F.max("margin").over(win))
                / F.sum(F.exp(F.col("margin") - F.max("margin").over(win))).over(
                    win
                )
            ).alias("p"),
        )
        errs = probs.select(
            "id",
            "cls",
            (F.col("p") - (F.col("y") == F.col("cls")).cast("double")).alias(
                "err"
            ),
            F.when(F.col("y") == F.col("cls"), -F.log(F.col("p"))).alias("__ce"),
        ).persist()
        # ONE model-scale collect: per-(cls, bucket) gradients, plus a
        # bucket = -1 sentinel per class carrying the bias gradient in
        # `g` and the class's cross-entropy sum in `ll`
        grad_rows = (
            errs.join(feats.select("id", "bucket", "cnt"), "id")
            .groupBy("cls", "bucket")
            .agg(F.sum(F.col("err") * F.col("cnt")).alias("g"), F.lit(0.0).alias("ll"))
            .unionByName(
                errs.groupBy("cls").agg(
                    F.sum("err").alias("g"),
                    F.coalesce(F.sum("__ce"), F.lit(0.0)).alias("ll"),
                ).select("cls", F.lit(-1).cast("long").alias("bucket"), "g", "ll")
            )
            .collect()
        )
        errs.unpersist()

        G = np.zeros((k, n_buckets), dtype="float64")
        bg = np.zeros(k, dtype="float64")
        ce = 0.0
        for r in grad_rows:
            if r["bucket"] < 0:
                bg[int(r["cls"])] = float(r["g"])
                ce += float(r["ll"])
            else:
                G[int(r["cls"]), int(r["bucket"])] = float(r["g"])
        W -= lr * (G / n + l2 * W)
        bias -= lr * bg / n
        losses.append(ce / n)
    feats.unpersist()
    labels.unpersist()
    return {
        "weights": W,
        "bias": bias,
        "classes": classes,
        "n_buckets": n_buckets,
        "losses": losses,
    }


def langid_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    model: dict,
    out_col: str = "lang",
) -> DataFrame:
    """``df`` plus ``out_col`` (argmax class label) and ``confidence``
    (its softmax probability) under a :func:`train_langid_classifier`
    model — the trained drop-in for ``text.langid``/``langid_table``
    (same output shape: one label per document; keep the heuristic as
    the zero-dependency fallback when no model has been trained).

    Plan: broadcast weight join + (id, cls) groupBy for the dots, then
    argmax and softmax-confidence inside one id-partitioned window; ties
    break to the lowest class index (deterministic, mirroring the
    heuristic's fixed preference order). Zero-token documents get the
    bias-only prediction instead of dropping out."""
    from pyspark.sql import Window

    spark = df.sparkSession
    classes = list(model["classes"])
    W = np.asarray(model["weights"], dtype="float64")
    bias = np.asarray(model["bias"], dtype="float64")
    cdf = _local_df(
        spark, "cls long, __bias double",
        cls=np.arange(len(classes), dtype="int64"), __bias=bias,
    )
    feats = hashed_features(df, id_col, text_col, model["n_buckets"])
    labels = df.select(F.col(id_col).alias("id"), F.lit(0).alias("y"))
    m = _class_margins(feats, labels, cdf, _class_weight_df(spark, W))
    win = Window.partitionBy("id")
    order = Window.partitionBy("id").orderBy(F.desc("margin"), F.asc("cls"))
    scored = (
        m.select(
            "id",
            "cls",
            "margin",
            (
                F.exp(F.col("margin") - F.max("margin").over(win))
                / F.sum(
                    F.exp(F.col("margin") - F.max("margin").over(win))
                ).over(win)
            ).alias("confidence"),
            F.row_number().over(order).alias("__rk"),
        )
        .where(F.col("__rk") == 1)
        .select("id", "cls", "confidence")
    )
    label_expr = F.lit(classes[0])
    for i, c in enumerate(classes[1:], start=1):
        label_expr = F.when(F.col("cls") == i, F.lit(c)).otherwise(label_expr)
    return df.join(
        scored.select(
            F.col("id").alias(id_col),
            label_expr.alias(out_col),
            "confidence",
        ),
        id_col,
    )


def save_langid_classifier(spark, model: dict, path: str) -> None:
    """Persist the multi-class model: sparse (cls, bucket, w) weights +
    one meta row per class (label, bias, width) — same train-once /
    score-every-crawl contract as the binary classifier."""
    W = np.asarray(model["weights"], dtype="float64")
    ks, bs = np.nonzero(W)
    pdf = pd.DataFrame(
        {"cls": ks.astype("int64"), "bucket": bs.astype("int64"), "w": W[ks, bs]}
    )
    spark.createDataFrame(pdf, "cls long, bucket long, w double").write.mode(
        "overwrite"
    ).parquet(f"{path}/weights")
    meta = pd.DataFrame(
        {
            "cls": np.arange(len(model["classes"]), dtype="int64"),
            "label": list(model["classes"]),
            "bias": np.asarray(model["bias"], dtype="float64"),
            "n_buckets": int(model["n_buckets"]),
        }
    )
    spark.createDataFrame(
        meta, "cls long, label string, bias double, n_buckets long"
    ).write.mode("overwrite").parquet(f"{path}/meta")


def load_langid_classifier(spark, path: str) -> dict:
    meta = sorted(
        spark.read.parquet(f"{path}/meta").collect(), key=lambda r: r["cls"]
    )
    k, n_buckets = len(meta), int(meta[0]["n_buckets"])
    W = np.zeros((k, n_buckets), dtype="float64")
    for r in spark.read.parquet(f"{path}/weights").collect():
        W[int(r["cls"]), int(r["bucket"])] = float(r["w"])
    return {
        "weights": W,
        "bias": np.array([float(r["bias"]) for r in meta]),
        "classes": [r["label"] for r in meta],
        "n_buckets": n_buckets,
        "losses": [],
    }


def calibration_report(
    scored: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """(bin, lo, hi, n, mean_score, frac_positive) — reliability table
    for a probabilistic gate: in a calibrated model each bin's empirical
    positive rate tracks its mean score, and the table is what picks the
    gate threshold honestly (keep-rate vs purity per bin) instead of
    defaulting to 0.5. One map-side-combined groupBy over equal-width
    score bins (score exactly 1.0 folds into the top bin)."""
    if n_bins < 1:
        raise ValueError("n_bins must be >= 1")
    b = F.least(
        F.floor(F.col(score_col) * n_bins).cast("long"), F.lit(n_bins - 1)
    )
    return (
        scored.withColumn("__bin", b)
        .groupBy("__bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(score_col).alias("mean_score"),
            F.avg(F.col(label_col).cast("double")).alias("frac_positive"),
        )
        .select(
            F.col("__bin").alias("bin"),
            (F.col("__bin") / n_bins).alias("lo"),
            ((F.col("__bin") + 1) / n_bins).alias("hi"),
            "n",
            "mean_score",
            "frac_positive",
        )
        .orderBy("bin")
    )
