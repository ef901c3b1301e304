"""Streaming sketch aggregation: per-window distinct counts, frequencies,
quantiles, heavy hitters and drift with BOUNDED state.

Exact streaming COUNT(DISTINCT) needs state proportional to the number of
distinct keys — unbounded on an unbounded stream. A KMV sketch per window
caps state at ``k`` u64 values (8k bytes at k=1024) regardless of stream
length, stays exact while under-full, and merges associatively across
micro-batches (the same algebra the batch build uses). This is the
100 TB-stream cardinality profile: state size = #open-windows × k × 8 B.

All five operators run on ONE windowed state machine, :func:`_windowed`:
tumbling-window projection, one state row per open window, the kernel's
build + merge folded into it per micro-batch (state blob first), an
update-mode emit, and EventTimeTimeout eviction once the watermark passes
a window's end + allowance. Each operator supplies only its columns, its
``fold`` and its ``emit``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)


def _long(name: str) -> StructField:
    return StructField(name, LongType())


# state row of the four hash sketches: the blob and the rows it has seen
_SKETCH_STATE = StructType([StructField("sketch", BinaryType()), _long("n")])


def _ms(duration: str) -> int:
    return int(pd.Timedelta(duration).total_seconds() * 1000)


def _windowed(
    stream: DataFrame,
    ts_col: str,
    window: str,
    watermark: str | None,
    cols: list,
    out_fields: list,
    state_schema: StructType,
    fold,
    emit,
) -> DataFrame:
    """The per-window state machine: group ``cols`` by tumbling
    ``window`` start, fold each micro-batch's pandas chunk into the
    window's state row with ``fold(state_or_None, pdf) -> state``, store
    it, and emit ``win_start`` + ``emit(state)`` (a dict of equal-length
    columns, possibly empty) in update mode. With a ``watermark`` a
    window's state row is evicted once the watermark passes its end +
    allowance (see :func:`streaming_distinct_counts`). A ``fold`` that
    returns its state object unchanged stores and emits nothing, but
    still re-arms the window's eviction timeout.
    """
    src = stream if watermark is None else stream.withWatermark(ts_col, watermark)
    win_ms = _ms(window)
    allow_ms = 0 if watermark is None else _ms(watermark)
    proj = [F.window(F.col(ts_col), window).start.alias("win_start"), *cols]
    if watermark is not None:
        # the event-time-tagged column must survive projection for
        # EventTimeTimeout's analysis check (window(...).start drops the tag)
        proj.append(F.col(ts_col).alias("__ts"))

    def agg(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            # watermark passed this window's end + allowance: final value
            # was already emitted in update mode; free the state row
            state.remove()
            return
        prior = st = state.get if state.exists else None
        for pdf in pdfs:
            if len(pdf):
                st = fold(st, pdf)
        if st is None:
            return
        if watermark is not None:
            # GroupState's timeout resets on every call: re-arm it even
            # when the fold changed nothing, or the window never evicts
            win_end = int(pd.Timestamp(key[0]).value // 1_000_000) + win_ms
            wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(max(win_end + allow_ms, wm + 1))
        if st is prior:
            return
        state.update(st)
        out = emit(st)
        m = len(next(iter(out.values())))
        yield pd.DataFrame({"win_start": [key[0]] * m, **out})

    return src.select(*proj).groupBy("win_start").applyInPandasWithState(
        agg,
        outputStructType=StructType(
            [StructField("win_start", TimestampType()), *out_fields]
        ),
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if watermark is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def _sketch_fold(build, merge):
    """``fold`` over a ``(sketch, n)`` state: the chunk's partial from its
    u64 hashes (``build(h, pdf)``), merged after the state blob."""

    def fold(st, pdf):
        h = pdf["h"].to_numpy(dtype=np.int64).view(np.uint64)
        part = build(h, pdf)
        if st is None:
            return part, len(h)
        return merge([bytes(st[0]), part]), st[1] + len(h)

    return fold


def _key_hash(key_col: str):
    return F.xxhash64(F.col(key_col)).alias("h")


def streaming_distinct_counts(
    stream: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    window: str = "1 hour",
    k: int = 1024,
    watermark: str | None = None,
) -> DataFrame:
    """(window_start, est_distinct, n_rows) per tumbling window, updated
    every micro-batch. est_distinct is the KMV estimate — exact while a
    window has seen < k distinct keys; use outputMode("update") and read
    the LATEST row per window (estimates only improve as batches arrive).

    ``watermark`` (e.g. "30 minutes") bounds OPEN-WINDOW state: once the
    event-time watermark passes a window's end + allowance, its sketch row
    is dropped via EventTimeTimeout — without it, every window ever seen
    stays in the store forever. (A straggler arriving after eviction would
    restart that window's count from empty; pick the allowance to cover
    the stream's real lateness.)
    """
    from ..core.kmv import kmv_build, kmv_estimate, kmv_merge

    return _windowed(
        stream, ts_col, window, watermark,
        cols=[_key_hash(key_col)],
        out_fields=[_long("est_distinct"), _long("n_rows")],
        state_schema=_SKETCH_STATE,
        fold=_sketch_fold(lambda h, pdf: kmv_build(h, k), kmv_merge),
        emit=lambda st: {"est_distinct": [kmv_estimate(st[0])], "n_rows": [st[1]]},
    )


def streaming_cms_counts(
    stream: DataFrame,
    key_col: str,
    tracked: list,
    ts_col: str = "ts",
    window: str = "1 hour",
    d: int = 4,
    w: int = 16384,
    watermark: str | None = None,
) -> DataFrame:
    """Per-window frequency estimates for a watchlist of keys with
    BOUNDED state — the frequency sibling of
    :func:`streaming_distinct_counts`.

    Exact per-key streaming counts need a counter per distinct key
    (unbounded). A Count-Min sketch per window caps state at d×w u64
    counters (fixed bytes) regardless of how many distinct keys flow
    through; micro-batch partials merge by ADDITION (the batch CMS
    algebra), and each update emits ``(win_start, key, est_count,
    n_rows)`` for every tracked key — estimates are exact-or-over, never
    under, and exact while a window's distinct keys colliding into any
    tracked counter stay absent. ``tracked`` is the dashboard watchlist
    (small by contract); its hashes are computed once at query
    construction with the same JVM ``xxhash64`` the stream uses.
    ``watermark`` evicts closed windows' sketches via EventTimeTimeout,
    exactly like the KMV variant.
    """
    from ..core.cms import cms_counts, cms_estimate, cms_merge, cms_serialize

    key_dt = stream.schema[key_col].dataType
    trows = stream.sparkSession.createDataFrame(
        [(t,) for t in tracked], f"k {key_dt.simpleString()}"
    ).select("k", F.xxhash64("k").alias("h")).collect()
    tracked_keys = [r["k"] for r in trows]
    tracked_hs = np.array([r["h"] for r in trows], dtype=np.int64).view(np.uint64)

    def emit(st):
        ests = cms_estimate(st[0], tracked_hs)
        return {
            "key": tracked_keys,
            "est_count": ests.astype(np.int64),
            "n_rows": [st[1]] * len(tracked_keys),
        }

    return _windowed(
        stream, ts_col, window, watermark,
        cols=[_key_hash(key_col)],
        out_fields=[StructField("key", key_dt), _long("est_count"), _long("n_rows")],
        state_schema=_SKETCH_STATE,
        fold=_sketch_fold(
            lambda h, pdf: cms_serialize(cms_counts(h, d, w)), cms_merge
        ),
        emit=emit,
    )


def streaming_quantiles(
    stream: DataFrame,
    key_col: str,
    value_col: str,
    ts_col: str = "ts",
    window: str = "1 hour",
    k: int = 1024,
    qs: tuple = (0.5, 0.9, 0.99),
    watermark: str | None = None,
) -> DataFrame:
    """Per-window value quantiles with BOUNDED state — the third member
    of the streaming sketch family (KMV: distinct, CMS: frequency, BKS:
    sample/quantiles).

    A bottom-k hash sample per open window caps state at 16k bytes
    regardless of stream length; micro-batch partials merge with the
    family algebra (order-independent — replays and batch boundaries
    can't change the sample), and each update emits nearest-rank
    quantile estimates (EXACT while a window has seen < k distinct
    keys). ``key_col`` should uniquely identify rows (the hash decides
    sample membership); ``watermark`` evicts closed windows via
    EventTimeTimeout like the siblings.
    """
    from ..core.bksample import bks_build, bks_merge, bks_quantile

    names = [f"p{int(q * 100)}" for q in qs]

    def emit(st):
        return {
            "n_rows": [st[1]],
            **{p: [bks_quantile(st[0], q)] for p, q in zip(names, qs)},
        }

    return _windowed(
        stream, ts_col, window, watermark,
        cols=[_key_hash(key_col), F.col(value_col).cast("long").alias("v")],
        out_fields=[_long("n_rows"), *map(_long, names)],
        state_schema=_SKETCH_STATE,
        fold=_sketch_fold(
            lambda h, pdf: bks_build(h, pdf["v"].to_numpy(dtype=np.int64), k),
            bks_merge,
        ),
        emit=emit,
    )


def streaming_topk(
    stream: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    window: str = "1 hour",
    k: int = 256,
    top_k: int = 10,
    watermark: str | None = None,
) -> DataFrame:
    """Per-window heavy hitters with BOUNDED state — the fourth member of
    the streaming sketch family (KMV: distinct, CMS: frequency for a
    KNOWN watchlist, BKS: quantiles, MG: WHICH keys are frequent).

    Unlike :func:`streaming_cms_counts` this needs no up-front watchlist:
    a Misra-Gries summary per open window tracks at most ``k`` counters
    (16k bytes at k=1024) and DISCOVERS the hot keys. Micro-batch
    partials merge with the PODS'12 counter algebra, so over any batch
    split each emitted count is a lower bound with undercount
    <= n/(k+1), every key whose true in-window count exceeds n/(k+1) is
    guaranteed emitted, and counts are EXACT while a window's distinct
    keys stay <= k. Each update emits the current top ``top_k``
    candidates as ``(win_start, key_hash, est_count, n_rows)`` —
    key_hash is the stream-side ``xxhash64(key)``; join back to raw keys
    on the same expression. ``watermark`` evicts closed windows via
    EventTimeTimeout like the siblings.
    """
    from ..core.mg import mg_build, mg_merge, mg_topk

    def emit(st):
        keys, counts = mg_topk(st[0], top_k)
        return {
            "key_hash": keys.view(np.int64),
            "est_count": counts.astype(np.int64),
            "n_rows": [st[1]] * len(keys),
        }

    return _windowed(
        stream, ts_col, window, watermark,
        cols=[_key_hash(key_col)],
        out_fields=[_long("key_hash"), _long("est_count"), _long("n_rows")],
        state_schema=_SKETCH_STATE,
        fold=_sketch_fold(lambda h, pdf: mg_build(h, k), mg_merge),
        emit=emit,
    )


def streaming_drift(
    stream: DataFrame,
    value_col: str,
    baseline: dict,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str | None = None,
) -> DataFrame:
    """Per-window distribution drift against a frozen baseline — the
    streaming sibling of the batch ``drift_report`` (operators/text.py):
    a live "did this hour's value distribution move?" alarm.

    ``baseline`` is ``{"min": float, "max": float, "counts": [int…]}``
    — the batch histogram of the reference snapshot (its bucket count
    fixes ``n_buckets``). State per open window is that fixed counts
    array (n_buckets longs — bounded regardless of stream length);
    micro-batch partials ADD, and each update emits
    ``(win_start, n_rows, psi)`` with the same PSI convention and
    1e-6 zero-floor as the batch operator, values outside the baseline
    range clamping into the edge buckets. Watermark evicts closed
    windows via EventTimeTimeout like the sketch siblings.
    """
    mn, mx = float(baseline["min"]), float(baseline["max"])
    base_counts = np.asarray(baseline["counts"], dtype=np.float64)
    n_buckets = len(base_counts)
    if n_buckets < 2 or mx <= mn:
        raise ValueError("baseline needs >= 2 buckets and max > min")
    base_p = np.maximum(
        base_counts / max(base_counts.sum(), 1.0), 1e-6
    )
    width = (mx - mn) / n_buckets

    value = F.col(value_col).cast("double")
    # greatest/least skip NULLs, so a NULL value keeps a NULL bucket only
    # through the explicit when
    bucket = F.when(
        value.isNotNull(),
        F.greatest(
            F.least(
                F.floor((value - F.lit(mn)) / F.lit(width)), F.lit(n_buckets - 1)
            ),
            F.lit(0),
        ),
    ).cast("int")

    def fold(st, pdf):
        # NULL values reach the state machine (so their event time still
        # advances the watermark) and are dropped here
        b = pdf["b"].dropna()
        if b.empty:
            return st
        if st is None:
            counts = np.zeros(n_buckets, dtype=np.int64)
        else:
            counts = np.frombuffer(bytes(st[0]), dtype="<i8").copy()
        np.add.at(counts, b.to_numpy(dtype=np.int64), 1)
        return (counts.astype("<i8").tobytes(),)

    def emit(st):
        counts = np.frombuffer(st[0], dtype="<i8")
        n = int(counts.sum())
        p = np.maximum(counts / n, 1e-6)
        psi = float(np.sum((p - base_p) * np.log(p / base_p)))
        return {"n_rows": [n], "psi": [round(psi, 6)]}

    return _windowed(
        stream, ts_col, window, watermark,
        cols=[bucket.alias("b")],
        out_fields=[_long("n_rows"), StructField("psi", DoubleType())],
        state_schema=StructType([StructField("counts", BinaryType())]),
        fold=fold,
        emit=emit,
    )
