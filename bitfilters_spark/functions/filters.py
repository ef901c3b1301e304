"""Filter build (per-group aggregate) and probe (row-wise) operators.

Reference surface re-expressed for Spark's execution model
(``docs/README.md`` of the reference lists the SQL functions; builds are
GROUP BY aggregates, probes are scalar functions):

Build — ``build_filter(df, group_cols, hash_col, kind, ...)`` returns a
DataFrame ``group_cols + [filter: binary]``.  Three physical strategies,
chosen by filter algebra, NOT by data size:

* **duckdb_bloom** (any grouping): in the JVM.  Each hash's sector and
  4-bit mask are Catalyst expressions, ``bit_or`` ORs the masks per
  (group, sector) with a partial aggregate before its shuffle, and only
  the aggregated rows (at most ``num_sectors`` per group) reach a Python
  worker, which packs each group's blob.
* **other mergeable** (``bloom``, ``quotient``, ``cms``, ...): two-phase —
  ``mapInPandas`` folds each *partition* into one partial blob per group,
  then a tiny shuffle of partials is OR/union-merged per group.  At 100 TB
  the shuffle carries ``#partitions × #groups`` small blobs instead of every
  row; raw rows never shuffle.
* **peeled** (``xor8/16``, ``fuse8/16``): construction needs the whole key
  set at once (hypergraph peeling), so groups shuffle to their builder
  (``groupBy().applyInPandas``) — same data movement DuckDB's aggregate
  does implicitly, and the numpy build is O(n) vectorized.

Probe — ``probe_filter(df, filters, hash_col, on)`` collects the blobs
once.  A global (``on=[]``) duckdb_bloom probe runs in the JVM: the blob's
non-zero sectors become a broadcast (sector, bits) relation, LEFT-joined
on each row's sector, and ``bits & mask = mask`` is the test, so fact rows
never pass through a Python worker.  Grouped probes and every other blob
format ride a broadcast variable into an Arrow UDF: per group, joining
rows to that group's sectors would carry a relation of #groups ×
num_sectors rows, which costs more than the vectorized numpy probe.
``filter_contains(filter_col, hash_col)`` is the Arrow UDF over a blob
column: it sniffs the format, deserializes each *distinct* blob once per
batch, and probes the whole batch vectorized.  Its plan shape is
``fact CROSS JOIN broadcast(filters)`` (a handful of blob rows) → probe is
map-side, no shuffle of the fact table.

``duckdb_bloom_probe(version, filter_col, *value_cols)`` additionally hashes
the value columns internally (CombineHash for multi-key), mirroring
``bitfilters_duckdb_bloom_filter_probe``.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql.functions import arrow_udf

from ..core import bloom as B
from ..core import cms as CM
from ..core import cuckoo as CKF
from ..core import kmv as KV
from ..core import fuse as FU
from ..core import hll as HL
from ..core import mg as MG
from ..core import quotient as Q
from ..core import ribbon as RB
from ..core import xor as X
from ..core import hashing as H
from .hashing import _hash_arrays

MERGEABLE = {"bloom", "duckdb_bloom", "quotient", "cms", "kmv", "hll", "mg", "cuckoo"}
PEELED = {"xor8", "xor16", "fuse8", "fuse16", "ribbon8", "ribbon16"}


def _to_u64(s: pd.Series) -> np.ndarray:
    return s.to_numpy(dtype=np.int64, na_value=0).view(np.uint64)


def _bulk_build(kind: str, hashes: np.ndarray, p: dict) -> bytes:
    if kind == "quotient":
        return Q.qf_build(hashes, p["q"], p["r"])
    if kind == "xor8":
        return X.xor_build(hashes, 8)
    if kind == "xor16":
        return X.xor_build(hashes, 16)
    if kind == "fuse8":
        return FU.fuse_build(hashes, 8)
    if kind == "fuse16":
        return FU.fuse_build(hashes, 16)
    if kind == "ribbon8":
        return RB.ribbon_build(hashes, 8)
    if kind == "ribbon16":
        return RB.ribbon_build(hashes, 16)
    if kind == "duckdb_bloom":
        return B.duckdb_bloom_serialize(B.duckdb_bloom_build(hashes, p["num_sectors"]))
    if kind == "bloom":
        m, k = B.bloom_params(p["n"], p["fpp"])
        return B.bloom_serialize(B.bloom_build(hashes, p["n"], p["fpp"]), k)
    if kind == "cms":
        return CM.cms_build(hashes, p["d"], p["w"])
    if kind == "kmv":
        return KV.kmv_build(hashes, p["k"])
    if kind == "hll":
        return HL.hll_build(hashes, p["p"])
    if kind == "mg":
        return MG.mg_build(hashes, p["k"])
    if kind == "cuckoo":
        return CKF.ck_build(hashes, p["nbuckets"], p["fp_bits"], p["bucket_size"])
    raise ValueError(f"unknown filter kind {kind!r}")


def _merge_blobs(kind: str, blobs: list) -> bytes:
    if kind == "quotient":
        return Q.qf_merge(blobs)
    if kind == "duckdb_bloom":
        return B.duckdb_bloom_merge(blobs)
    if kind == "bloom":
        return B.bloom_merge(blobs)
    if kind == "cms":
        return CM.cms_merge(blobs)
    if kind == "kmv":
        return KV.kmv_merge(blobs)
    if kind == "hll":
        return HL.hll_merge(blobs)
    if kind == "mg":
        return MG.mg_merge(blobs)
    if kind == "cuckoo":
        return CKF.ck_merge(blobs)
    raise ValueError(f"filter kind {kind!r} is not mergeable")


def _duckdb_bloom_cols(h: Column, num_sectors: int) -> tuple[Column, Column]:
    """(sector, mask) of the i64 hash ``h`` as Catalyst expressions: the
    index and 4-bit mask of ``core.bloom.duckdb_bloom_build``. Shifts, ANDs
    and ORs only, so nothing can overflow under ANSI mode (``1 << 63`` is
    the i64 minimum, the same bits as the u64 mask)."""
    mask = None
    for byte_idx in (4, 5, 6, 7):
        bit = F.shiftright(h, 8 * byte_idx).bitwiseAND(F.lit(0x3F)).cast("int")
        m = F.call_function("shiftleft", F.lit(1).cast("long"), bit)
        mask = m if mask is None else mask.bitwiseOR(m)
    return h.bitwiseAND(F.lit(num_sectors - 1).cast("long")), mask


def _build_duckdb_bloom(
    proj: DataFrame, group_cols: list, num_sectors: int, out_schema: StructType
) -> DataFrame:
    """duckdb_bloom build in the JVM: OR the masks per (group, sector) with
    ``bit_or`` (partial aggregate before the shuffle, so raw rows never
    shuffle), then pack each group's non-zero sectors into the
    ``[u64 num_sectors][u64 sectors...]`` blob. Only the aggregated rows,
    at most ``num_sectors`` per group, reach a Python worker."""
    filter_col = out_schema.fields[-1].name
    sector, mask = _duckdb_bloom_cols(F.col("__h"), num_sectors)
    agg = proj.groupBy(*group_cols, sector.alias("__s")).agg(
        F.bit_or(mask).alias("__b")
    )

    def pack(t: pa.Table) -> pa.Table:
        sectors = np.zeros(num_sectors, dtype=np.uint64)
        sectors[t["__s"].to_numpy()] = t["__b"].to_numpy().view(np.uint64)
        cols = {c: t[c].slice(0, 1) for c in group_cols}
        cols[filter_col] = pa.array([B.duckdb_bloom_serialize(sectors)], pa.binary())
        return pa.table(cols)

    return agg.groupBy(*group_cols).applyInArrow(pack, schema=out_schema)


def _probe_duckdb_bloom(
    df: DataFrame, blob: bytes | None, hash_col: str, result_col: str
) -> DataFrame:
    """Global duckdb_bloom probe in the JVM: the blob's non-zero sectors
    become a small local (sector, bits) relation, broadcast and LEFT-joined
    on each row's sector; a row is in when ``bits & mask = mask``. No fact
    row passes through a Python worker. NULL hash → NULL; no filter (or an
    absent sector) → False."""
    h = df[hash_col].cast("long")
    if blob is None:
        return df.withColumn(result_col, F.when(h.isNotNull(), F.lit(False)))
    sectors = B.duckdb_bloom_deserialize(blob)
    nz = np.flatnonzero(sectors)
    table = pa.table({
        "__bf_s": pa.array(nz, pa.int64()),
        "__bf_b": pa.array(sectors[nz].view(np.int64), pa.int64()),
    })
    schema = StructType(
        [StructField("__bf_s", LongType(), False), StructField("__bf_b", LongType(), False)]
    )
    bits = F.broadcast(df.sparkSession.createDataFrame(table, schema))
    sector, mask = _duckdb_bloom_cols(h, len(sectors))
    hit = F.coalesce(bits["__bf_b"].bitwiseAND(mask) == mask, F.lit(False))
    return (
        df.join(bits, sector == bits["__bf_s"], "left")
        .withColumn(result_col, F.when(h.isNotNull(), hit))
        .drop("__bf_s", "__bf_b")
    )


def build_filter(
    df: DataFrame,
    group_cols: list,
    hash_col: str,
    kind: str,
    *,
    q: int = 16,
    r: int = 4,
    num_sectors: int = 16384,
    n: int = 100_000,
    fpp: float = 0.01,
    num_shards: int | None = None,
    d: int = 4,
    w: int = 16384,
    k: int = 64,
    p: int = 12,
    nbuckets: int = 65536,
    fp_bits: int = 12,
    bucket_size: int = 4,
    filter_col: str = "filter",
) -> DataFrame:
    """Aggregate hashes into one serialized filter per group.

    ``df[hash_col]`` must be i64 (two's-complement u64 hash, e.g. from
    ``spark_hash64`` or ``duckdb_hash``).  ``group_cols=[]`` builds one
    global filter (single-row result).

    ``num_shards`` (peeled kinds only) splits each group's key set by a
    hash prefix into ``num_shards`` independently-peeled sub-filters,
    assembled into one SHRD container blob. This is the huge-group scale
    path: a billion-key group builds as N parallel tasks each holding
    1/N of the keys, instead of one applyInPandas task holding them all.
    Probing routes each hash to its shard's sub-filter (same prefix
    function), so membership semantics are identical.
    """
    if kind == "duckdb_bloom" and (num_sectors <= 0 or num_sectors & (num_sectors - 1)):
        raise ValueError("num_sectors must be a power of 2")
    params = {
        "q": q, "r": r, "num_sectors": num_sectors, "n": n, "fpp": fpp,
        "d": d, "w": w, "k": k, "p": p,
        "nbuckets": nbuckets, "fp_bits": fp_bits, "bucket_size": bucket_size,
    }
    dummy = not group_cols
    if dummy:
        df = df.withColumn("__g", F.lit(0))
        group_cols = ["__g"]
    # NULL hashes are skipped, like DuckDB aggregates skip NULL inputs; this
    # also guarantees the pandas batches keep int64 dtype (a null would
    # force float64 and round 64-bit hash values)
    proj = df.select(*group_cols, F.col(hash_col).cast("long").alias("__h")).where(
        F.col("__h").isNotNull()
    )
    gfields = [proj.schema[c] for c in group_cols]
    out_schema = StructType(gfields + [StructField(filter_col, BinaryType())])

    if kind == "duckdb_bloom":
        out = _build_duckdb_bloom(proj, group_cols, num_sectors, out_schema)
    elif kind in MERGEABLE:
        def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            acc: dict = {}
            gvals: dict = {}
            for pdf in batches:
                if not len(pdf):
                    continue
                codes, uniq = pd.factorize(
                    pd.Series(zip(*[pdf[c] for c in group_cols])) if len(group_cols) > 1 else pdf[group_cols[0]]
                )
                hs = _to_u64(pdf["__h"])
                for code in range(len(uniq)):
                    m = codes == code
                    key = uniq[code]
                    kk = tuple(key) if isinstance(key, tuple) else (key,)
                    gvals[kk] = kk
                    if kind == "quotient":
                        part = np.unique(Q.qf_fingerprints(hs[m], q, r))
                        prev = acc.get(kk)
                        acc[kk] = part if prev is None else np.union1d(prev, part)
                    elif kind == "cuckoo":
                        part = CKF.ck_entries(hs[m], nbuckets, fp_bits)
                        prev = acc.get(kk)
                        acc[kk] = part if prev is None else np.union1d(prev, part)
                    elif kind == "cms":
                        mat = CM.cms_counts(hs[m], d, w)
                        acc[kk] = mat if kk not in acc else (acc[kk] + mat)
                    elif kind == "kmv":
                        vals = np.unique(hs[m])[:k]
                        prev = acc.get(kk)
                        acc[kk] = (
                            vals if prev is None
                            else np.unique(np.concatenate([prev, vals]))[:k]
                        )
                    elif kind == "hll":
                        regs = HL.hll_registers(hs[m], p)
                        acc[kk] = regs if kk not in acc else np.maximum(acc[kk], regs)
                    elif kind == "mg":
                        bk, bc = np.unique(hs[m], return_counts=True)
                        prev = acc.get(kk)
                        if prev is not None:
                            allk = np.concatenate([prev[0], bk])
                            allc = np.concatenate(
                                [prev[1], bc.astype(np.uint64)]
                            )
                            uk, inv = np.unique(allk, return_inverse=True)
                            uc = np.zeros(len(uk), dtype=np.uint64)
                            np.add.at(uc, inv, allc)
                            bk, bc = uk, uc
                        # compress after each batch: per-group state stays
                        # <= k counters regardless of partition size (the
                        # PODS'12 merge keeps the n/(k+1) bound)
                        acc[kk] = MG.mg_summarize(bk, bc.astype(np.uint64), k)
                    else:  # bloom
                        bits = B.bloom_build(hs[m], n, fpp)
                        acc[kk] = bits if kk not in acc else (acc[kk] | bits)
            rows = []
            for kk, st in acc.items():
                if kind == "quotient":
                    blob = (
                        Q._MAGIC
                        + bytes([q, r])
                        + np.uint64(len(st)).tobytes()
                        + st.astype("<u8").tobytes()
                    )
                elif kind == "cuckoo":
                    blob = CKF.ck_partial_serialize(st, nbuckets, fp_bits, bucket_size)
                elif kind == "cms":
                    blob = CM.cms_serialize(st)
                elif kind == "kmv":
                    blob = KV.kmv_serialize(k, st)
                elif kind == "hll":
                    blob = HL.hll_serialize(p, st)
                elif kind == "mg":
                    blob = MG.mg_serialize(k, st[0], st[1])
                else:
                    blob = B.bloom_serialize(st, B.bloom_params(n, fpp)[1])
                rows.append((*kk, blob))
            yield pd.DataFrame(rows, columns=group_cols + [filter_col])

        partial_df = proj.mapInPandas(partials, schema=out_schema)

        def merge(pdf: pd.DataFrame) -> pd.DataFrame:
            blob = _merge_blobs(kind, [bytes(b) for b in pdf[filter_col]])
            return pd.DataFrame([(*[pdf[c].iloc[0] for c in group_cols], blob)],
                                columns=group_cols + [filter_col])

        out = partial_df.groupBy(*group_cols).applyInPandas(merge, schema=out_schema)
    elif kind in PEELED:
        if num_shards and num_shards > 1:
            ns = int(num_shards)
            sharded = proj.withColumn(
                "__shard",
                (F.shiftrightunsigned(F.col("__h"), 48) % ns).cast("int"),
            )
            sub_schema = StructType(
                gfields
                + [StructField("__shard", IntegerType()), StructField(filter_col, BinaryType())]
            )

            def build_shard(pdf: pd.DataFrame) -> pd.DataFrame:
                blob = _bulk_build(kind, _to_u64(pdf["__h"]), params)
                return pd.DataFrame(
                    [(*[pdf[c].iloc[0] for c in group_cols], int(pdf["__shard"].iloc[0]), blob)],
                    columns=group_cols + ["__shard", filter_col],
                )

            subs = sharded.groupBy(*group_cols, "__shard").applyInPandas(
                build_shard, schema=sub_schema
            )

            def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
                by_shard = {
                    int(s): bytes(b) for s, b in zip(pdf["__shard"], pdf[filter_col])
                }
                blob = shard_pack(ns, by_shard)
                return pd.DataFrame(
                    [(*[pdf[c].iloc[0] for c in group_cols], blob)],
                    columns=group_cols + [filter_col],
                )

            out = subs.groupBy(*group_cols).applyInPandas(assemble, schema=out_schema)
        else:
            def build(pdf: pd.DataFrame) -> pd.DataFrame:
                blob = _bulk_build(kind, _to_u64(pdf["__h"]), params)
                return pd.DataFrame([(*[pdf[c].iloc[0] for c in group_cols], blob)],
                                    columns=group_cols + [filter_col])

            out = proj.groupBy(*group_cols).applyInPandas(build, schema=out_schema)
    else:
        raise ValueError(f"unknown filter kind {kind!r}")

    return out.drop("__g") if dummy else out


def build_filters_multi(
    df: DataFrame,
    hash_col: str,
    specs: list,
    filter_col: str = "filter",
    group_cols: list | None = None,
) -> DataFrame:
    """Build MANY filters over the same key set in ONE scan.

    ``specs`` is ``[(name, kind, params_dict), ...]``. A single
    ``mapInPandas`` pass folds each partition into one payload per
    (group, spec) — a partial blob for mergeable kinds, the partition's
    distinct raw hashes for peeled kinds (which need the full key set
    anyway) — and a per-(group, name) merge task finishes each filter.
    The input is scanned exactly once regardless of how many filters are
    requested (vs. one scan per filter). Returns
    ``group_cols + (filter_type, filter)``.

    A peeled spec may carry ``"num_shards": NS`` in its params: the
    group's key set then splits by hash prefix into NS independently
    built sub-filters assembled into one SHRD container (r10 — the same
    container `build_filter(num_shards=...)` emits, now available in the
    one-scan multi-build). This removes the single-task bottleneck of a
    huge group's sequential peeled construction: the finish stage runs
    one task per (group, kind, shard) instead of per (group, kind), so
    a billion-key group builds in parallel across the cluster. Probe
    dispatch is unchanged (magic-sniffed); the container size stays
    SQL-replayable because the shard split is a pure function of the
    hash prefix.
    """
    _RAW = b"HSHS"  # payload prefix: partition's raw distinct hashes
    group_cols = list(group_cols or [])
    by_name = {name: (kind, p) for name, kind, p in specs}
    sharded = {
        name: int(p["num_shards"])
        for name, (kind, p) in by_name.items()
        if kind in PEELED and p.get("num_shards")
    }
    proj = df.select(
        *group_cols, F.col(hash_col).cast("long").alias("__h")
    ).where(F.col("__h").isNotNull())
    gfields = [proj.schema[c] for c in group_cols]
    out_schema = StructType(
        gfields
        + [StructField("filter_type", StringType()), StructField(filter_col, BinaryType())]
    )
    mid_schema = StructType(
        list(out_schema.fields) + [StructField("__shard", IntegerType())]
    )

    def _fold(state: dict, gkey, hs: np.ndarray) -> None:
        for name, (kind, p) in by_name.items():
            if kind not in MERGEABLE:
                continue
            skey = (gkey, name)
            prev = state.get(skey)
            if kind == "quotient":
                part = np.unique(Q.qf_fingerprints(hs, p["q"], p["r"]))
                state[skey] = part if prev is None else np.union1d(prev, part)
            elif kind == "cuckoo":
                part = CKF.ck_entries(hs, p["nbuckets"], p["fp_bits"])
                state[skey] = part if prev is None else np.union1d(prev, part)
            elif kind == "duckdb_bloom":
                sect = B.duckdb_bloom_build(hs, p["num_sectors"])
                state[skey] = sect if prev is None else prev | sect
            elif kind == "cms":
                mat = CM.cms_counts(hs, p["d"], p["w"])
                state[skey] = mat if prev is None else prev + mat
            elif kind == "kmv":
                vals = np.unique(hs)[: p["k"]]
                state[skey] = (
                    vals if prev is None
                    else np.unique(np.concatenate([prev, vals]))[: p["k"]]
                )
            elif kind == "hll":
                regs = HL.hll_registers(hs, p["p"])
                state[skey] = regs if prev is None else np.maximum(prev, regs)
            else:  # bloom
                w = B.bloom_build(hs, p["n"], p["fpp"])
                state[skey] = w if prev is None else prev | w

    def _partial_blob(kind: str, p: dict, st) -> bytes:
        if kind == "quotient":
            return (
                Q._MAGIC + bytes([p["q"], p["r"]])
                + np.uint64(len(st)).tobytes() + st.astype("<u8").tobytes()
            )
        if kind == "cuckoo":
            return CKF.ck_partial_serialize(
                st, p["nbuckets"], p["fp_bits"], p.get("bucket_size", 4)
            )
        if kind == "duckdb_bloom":
            return B.duckdb_bloom_serialize(st)
        if kind == "cms":
            return CM.cms_serialize(st)
        if kind == "kmv":
            return KV.kmv_serialize(p["k"], st)
        if kind == "hll":
            return HL.hll_serialize(p["p"], st)
        return B.bloom_serialize(st, B.bloom_params(p["n"], p["fpp"])[1])

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        merge_state: dict = {}
        raw: dict = {}
        for pdf in batches:
            if not len(pdf):
                continue
            if group_cols:
                for gkey, sub in pdf.groupby(group_cols, dropna=False, sort=False):
                    gkey = gkey if isinstance(gkey, tuple) else (gkey,)
                    hs = _to_u64(sub["__h"])
                    raw.setdefault(gkey, []).append(hs)
                    _fold(merge_state, gkey, hs)
            else:
                hs = _to_u64(pdf["__h"])
                raw.setdefault((), []).append(hs)
                _fold(merge_state, (), hs)
        if not raw:
            return
        rows = []
        for gkey, parts in raw.items():
            all_h = np.unique(np.concatenate(parts))
            for name, (kind, p) in by_name.items():
                if kind in MERGEABLE:
                    rows.append(
                        (*gkey, name, _partial_blob(kind, p, merge_state[(gkey, name)]), -1)
                    )
                elif name in sharded:
                    sh = _shard_of(all_h, sharded[name])
                    for s in np.unique(sh):
                        payload = _RAW + all_h[sh == s].astype("<u8").tobytes()
                        rows.append((*gkey, name, payload, int(s)))
                else:
                    rows.append((*gkey, name, _RAW + all_h.astype("<u8").tobytes(), -1))
        yield pd.DataFrame(
            rows, columns=group_cols + ["filter_type", filter_col, "__shard"]
        )

    partial_df = proj.mapInPandas(partials, schema=mid_schema)

    def finish(pdf: pd.DataFrame) -> pd.DataFrame:
        name = pdf["filter_type"].iloc[0]
        kind, p = by_name[name]
        payloads = [bytes(b) for b in pdf[filter_col]]
        if kind in MERGEABLE:
            blob = _merge_blobs(kind, payloads)
        else:
            hs = np.unique(np.concatenate(
                [np.frombuffer(b[len(_RAW):], dtype="<u8") for b in payloads]
            ))
            blob = _bulk_build(kind, hs, p)
        out = pdf.iloc[[0]].copy()
        out[filter_col] = [blob]
        return out

    # one finish task per (group, kind, shard): sharded peeled kinds
    # parallelize their sub-builds; everything else is shard -1
    finished = partial_df.groupBy(*group_cols, "filter_type", "__shard").applyInPandas(
        finish, schema=mid_schema
    )
    if not sharded:
        return finished.drop("__shard")

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        name = pdf["filter_type"].iloc[0]
        out = pdf.iloc[[0]].copy().drop(columns="__shard")
        if name in sharded:
            by_shard = {
                int(s): bytes(b) for s, b in zip(pdf["__shard"], pdf[filter_col])
            }
            out[filter_col] = [shard_pack(sharded[name], by_shard)]
        return out

    return finished.groupBy(*group_cols, "filter_type").applyInPandas(
        assemble, schema=out_schema
    )


_SHARD_MAGIC = b"SHRD"


def shard_pack(num_shards: int, blobs_by_shard: dict) -> bytes:
    """Container for hash-prefix-sharded sub-filters:
    ``SHRD | u32 num_shards | u64 lengths[num_shards] | blobs...``.
    Shards with no keys are stored zero-length (probe → False)."""
    lens = [len(blobs_by_shard.get(i, b"")) for i in range(num_shards)]
    head = (
        _SHARD_MAGIC
        + np.uint32(num_shards).tobytes()
        + np.array(lens, dtype="<u8").tobytes()
    )
    return head + b"".join(blobs_by_shard.get(i, b"") for i in range(num_shards))


def _shard_of(hashes: np.ndarray, num_shards: int) -> np.ndarray:
    """Shard = top-16-hash-bits mod num_shards — matches the JVM-side
    ``shiftrightunsigned(h, 48) % num_shards`` used at build time."""
    return (
        (hashes.astype(np.uint64, copy=False) >> np.uint64(48))
        % np.uint64(num_shards)
    ).astype(np.int64)


def _shard_probe(blob: bytes, hashes: np.ndarray) -> np.ndarray:
    num = int(np.frombuffer(blob[4:8], dtype="<u4")[0])
    lens = np.frombuffer(blob[8 : 8 + 8 * num], dtype="<u8").astype(np.int64)
    offs = np.concatenate([[0], np.cumsum(lens)]) + 8 + 8 * num
    shard = _shard_of(hashes, num)
    out = np.zeros(len(hashes), dtype=bool)
    for s in np.unique(shard):
        sub = blob[offs[s] : offs[s + 1]]
        if len(sub):
            m = shard == s
            out[m] = _probe_blob(sub, hashes[m])
    return out


def _probe_blob(blob: bytes, hashes: np.ndarray) -> np.ndarray:
    magic = blob[:4]
    if magic == CM.CMS_MAGIC:
        raise ValueError(
            "count-min sketch is a frequency sketch, not a membership "
            "filter; probe with cms_estimate()"
        )
    if magic == KV.KMV_MAGIC:
        raise ValueError(
            "KMV is a cardinality sketch, not a membership filter; "
            "use kmv_distinct()"
        )
    if magic == _SHARD_MAGIC:
        return _shard_probe(blob, hashes)
    if magic == b"QF01":
        return Q.qf_probe(blob, hashes)
    if magic == CKF.CKF_MAGIC:
        return CKF.ck_probe(blob, hashes)
    if magic == b"XORF":
        return X.xor_probe(blob, hashes)
    if magic == RB.RIBBON_MAGIC:
        return RB.ribbon_probe(blob, hashes)
    if magic == b"BFUS":
        return FU.fuse_probe(blob, hashes)
    if magic == b"SBL1":
        return B.bloom_probe(blob, hashes)
    return B.duckdb_bloom_probe(blob, hashes)  # headerless duckdb format


def _arrow_hashes_u64(hashes: "pa.Array") -> tuple[np.ndarray, np.ndarray]:
    """(u64 hash values, null mask) from an int64 arrow array — exact even
    when the batch contains nulls (no pandas float64 round-trip)."""
    if isinstance(hashes, pa.ChunkedArray):
        hashes = hashes.combine_chunks()
    mask = np.asarray(hashes.is_null())
    h = pc.fill_null(hashes, 0).to_numpy().astype(np.int64, copy=False).view(np.uint64)
    return h, mask


def filter_contains(filter_col, hash_col) -> Column:
    """True if the filter may contain the hash (no false negatives).

    Works for every blob format this engine produces (format sniffed from
    the blob header). Each distinct blob in an Arrow batch is deserialized
    once; probes are whole-batch vectorized. NULL hash or NULL filter →
    NULL (reference scalar-function semantics).
    """

    @arrow_udf(BooleanType())
    def _probe(blobs: pa.Array, hashes: pa.Array) -> pa.Array:
        if isinstance(blobs, pa.ChunkedArray):
            blobs = blobs.combine_chunks()
        h, hmask = _arrow_hashes_u64(hashes)
        out = np.zeros(len(h), dtype=bool)
        if len(h):
            codes, uniq = pd.factorize(blobs.to_pandas(), use_na_sentinel=True)
            for code, blob in enumerate(uniq):
                m = codes == code
                out[m] = _probe_blob(bytes(blob), h[m])
        mask = hmask | np.asarray(blobs.is_null())
        return pa.array(out, type=pa.bool_(), mask=mask)

    f = F.col(filter_col) if isinstance(filter_col, str) else filter_col
    h = F.col(hash_col) if isinstance(hash_col, str) else hash_col
    return _probe(f, h)


def cms_estimate(filter_col, hash_col) -> Column:
    """Estimated occurrence count of the hashed key against a CMS1 blob.

    Count-min semantics: exact or OVERestimate, never under (est(x) =
    min over rows of the sum of counts colliding with x). Vectorized like
    ``filter_contains``: each distinct blob deserialized once per batch.
    NULL hash or NULL blob -> NULL.
    """

    @arrow_udf(LongType())
    def _est(blobs: pa.Array, hashes: pa.Array) -> pa.Array:
        if isinstance(blobs, pa.ChunkedArray):
            blobs = blobs.combine_chunks()
        h, hmask = _arrow_hashes_u64(hashes)
        out = np.zeros(len(h), dtype=np.int64)
        if len(h):
            codes, uniq = pd.factorize(blobs.to_pandas(), use_na_sentinel=True)
            for code, blob in enumerate(uniq):
                m = codes == code
                out[m] = CM.cms_estimate(bytes(blob), h[m]).astype(np.int64)
        mask = hmask | np.asarray(blobs.is_null())
        return pa.array(out, type=pa.int64(), mask=mask)

    f = F.col(filter_col) if isinstance(filter_col, str) else filter_col
    h = F.col(hash_col) if isinstance(hash_col, str) else hash_col
    return _est(f, h)


def kmv_distinct(filter_col) -> Column:
    """Deterministic distinct-count estimate from a KMV1 blob (exact while
    the sketch is under-full; integer arithmetic at capacity, so an
    external engine reproduces the value exactly)."""

    @arrow_udf(LongType())
    def _est(blobs: pa.Array) -> pa.Array:
        if isinstance(blobs, pa.ChunkedArray):
            blobs = blobs.combine_chunks()
        out = [
            None if b is None else KV.kmv_estimate(bytes(b))
            for b in blobs.to_pylist()
        ]
        return pa.array(out, type=pa.int64())

    f = F.col(filter_col) if isinstance(filter_col, str) else filter_col
    return _est(f)


def hll_distinct(filter_col) -> Column:
    """Distinct-count estimate from an HLL1 blob (deterministic; exact in
    the small range while every key owns its own register via the linear
    counting correction). The fixed-2^p-byte sibling of
    :func:`kmv_distinct` for billion-group rollups."""

    @arrow_udf(LongType())
    def _est(blobs: pa.Array) -> pa.Array:
        if isinstance(blobs, pa.ChunkedArray):
            blobs = blobs.combine_chunks()
        out = [
            None if b is None else HL.hll_estimate(bytes(b))
            for b in blobs.to_pylist()
        ]
        return pa.array(out, type=pa.int64())

    f = F.col(filter_col) if isinstance(filter_col, str) else filter_col
    return _est(f)


def mg_estimate(filter_col, hash_col) -> Column:
    """Misra–Gries lower-bound count of the hashed key (0 = not tracked;
    the CMS complement: CMS only overcounts, MG only undercounts, and
    their interval brackets the true count). Vectorized like
    ``filter_contains``: each distinct blob deserialized once per batch."""

    @arrow_udf(LongType())
    def _est(blobs: pa.Array, hashes: pa.Array) -> pa.Array:
        if isinstance(blobs, pa.ChunkedArray):
            blobs = blobs.combine_chunks()
        h, hmask = _arrow_hashes_u64(hashes)
        out = np.zeros(len(h), dtype=np.int64)
        if len(h):
            codes, uniq = pd.factorize(blobs.to_pandas(), use_na_sentinel=True)
            for code, blob in enumerate(uniq):
                m = codes == code
                out[m] = MG.mg_estimate(bytes(blob), h[m]).astype(np.int64)
        mask = hmask | np.asarray(blobs.is_null())
        return pa.array(out, type=pa.int64(), mask=mask)

    f = F.col(filter_col) if isinstance(filter_col, str) else filter_col
    h = F.col(hash_col) if isinstance(hash_col, str) else hash_col
    return _est(f, h)


def heavy_hitters(
    filters: DataFrame,
    top_k: int | None = None,
    filter_col: str = "filter",
) -> DataFrame:
    """Explode per-group MGS1 blobs into ``(group_cols…, key_hash i64,
    est_count)`` rows, count-descending per group (key-hash tiebreak so
    the order is total). ``est_count`` is the MG lower bound; every key
    whose true count exceeds n/(k+1) is guaranteed present. The input is
    the (metadata-scale) output of ``build_filter(kind='mg')`` — the
    explode costs one row per tracked counter, never a corpus scan."""

    out_fields = [f for f in filters.schema.fields if f.name != filter_col]
    schema = StructType(
        out_fields
        + [StructField("key_hash", LongType()), StructField("est_count", LongType())]
    )
    group_names = [f.name for f in out_fields]

    def explode(pdf: pd.DataFrame) -> Iterator[pd.DataFrame]:
        for _, row in pdf.iterrows():
            b = row[filter_col]
            if b is None:
                continue
            keys, counts = MG.mg_topk(bytes(b), top_k)
            yield pd.DataFrame(
                {
                    **{g: [row[g]] * len(keys) for g in group_names},
                    "key_hash": keys.view(np.int64),
                    "est_count": counts.astype(np.int64),
                }
            )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield from explode(pdf)

    return filters.mapInPandas(gen, schema=schema)


def probe_filter(
    df: DataFrame,
    filters,
    hash_col: str,
    on: list | None = None,
    result_col: str = "__contains",
) -> DataFrame:
    """Scale-path probe: the Spark analogue of the reference's bind-time
    constant folding of the filter blob
    (``bitfilters_duckdb_bloom_filter_probe``,
    ``bitfilters_duckdb_bloom_filter.cpp:380-418``).

    ``filters`` is the (small) output of :func:`build_filter` — a DataFrame
    or an already-collected ``{group_tuple: blob}`` dict.  Instead of joining
    the blob in as a column (which would duplicate kilobytes-to-megabytes of
    blob into EVERY fact row and ship it through Arrow), the blobs are
    collected once, broadcast to executors, deserialized once per worker,
    and the probe UDF receives only the group key + hash columns.  Adds
    ``result_col`` (boolean; null group → False).  Rows whose group has no
    filter probe False; a NULL hash probes NULL.

    A global (``on=[]``) duckdb_bloom blob, or no filter at all, probes in
    the JVM instead: the blob's non-zero sectors ride a broadcast join and
    the mask test is a Catalyst expression, so no row reaches a Python
    worker. Grouped probes keep the UDF: joining each row to its group's
    sectors costs more than the vectorized probe once there are many
    groups of many sectors.
    """
    on = list(on or [])
    if isinstance(filters, DataFrame):
        fkey_cols = [c for c in filters.columns if c != "filter"]
        if len(fkey_cols) != len(on):
            raise ValueError(
                f"filters has key columns {fkey_cols} but on={on}; lengths must match"
            )
        fmap = {
            tuple(row[c] for c in fkey_cols): bytes(row["filter"])
            for row in filters.collect()
        }
    else:
        fmap = {tuple(k) if isinstance(k, (tuple, list)) else (k,): bytes(v)
                for k, v in filters.items()}
    total_bytes = sum(len(v) for v in fmap.values())
    if total_bytes > 1 << 30:
        # honest scale guard: a >1 GiB blob map should not ride the driver +
        # broadcast path. Join the blob in as a column and use
        # filter_contains instead (grouped join keeps blobs off the driver).
        raise ValueError(
            f"probe_filter: filter map is {total_bytes >> 20} MiB across "
            f"{len(fmap)} groups — too large to broadcast. Join the filters "
            "DataFrame on the group keys and probe with filter_contains."
        )
    if not on:
        blob = next(iter(fmap.values()), None)
        if blob is None or blob[:4] not in _KIND_BY_MAGIC:  # duckdb_bloom: no magic
            return _probe_duckdb_bloom(df, blob, hash_col, result_col)
    sc = df.sparkSession.sparkContext
    bc = sc.broadcast(fmap)

    @arrow_udf(BooleanType())
    def _probe(*arrays: pa.Array) -> pa.Array:
        h, hmask = _arrow_hashes_u64(arrays[-1])
        out = np.zeros(len(h), dtype=bool)
        m = bc.value
        if not on:
            if len(h):
                out[:] = _probe_blob(next(iter(m.values())), h)
        elif len(h):
            series = [a.to_pandas() for a in arrays[:-1]]
            if len(on) == 1:
                codes, uniq = pd.factorize(series[0])
                keys = [(k,) for k in uniq]
            else:
                codes, uniq = pd.factorize(pd.Series(list(zip(*series))))
                keys = [tuple(k) for k in uniq]
            for code, key in enumerate(keys):
                blob = m.get(key)
                if blob is not None:
                    sel = codes == code
                    out[sel] = _probe_blob(blob, h[sel])
        return pa.array(out, type=pa.bool_(), mask=hmask)

    cols = [F.col(c) for c in on] + [F.col(hash_col)]
    return df.withColumn(result_col, _probe(*cols))


def merge_filters(
    filters: DataFrame, group_cols: list, filter_col: str = "filter"
) -> DataFrame:
    """Union fine-grained mergeable filters into one per coarser group.

    For the mergeable family (bloom / duckdb_bloom: bitwise OR; quotient:
    fingerprint-set union) merge(build(A), build(B)) is IDENTICAL to
    build(A ∪ B) — the algebra the reference's bloom relies on internally
    when DuckDB combines aggregate states. Exposed as an operator it gives
    the hierarchical rollup path: per-file filters → per-partition →
    global, without rescanning rows. ``group_cols=[]`` merges everything
    into one global filter.

    The shuffle carries one blob per fine group (collect_list of already-
    aggregated state), never rows; the merge itself is one Arrow batch per
    coarse group.
    """

    @arrow_udf(BinaryType())
    def _merge(lists: pa.Array) -> pa.Array:
        if isinstance(lists, pa.ChunkedArray):
            lists = lists.combine_chunks()
        out = []
        for blobs in lists.to_pylist():
            blobs = [bytes(b) for b in (blobs or []) if b is not None]
            if not blobs:
                out.append(None)
                continue
            magic = blobs[0][:4]
            kind = {
                b"QF01": "quotient",
                b"CKF1": "cuckoo",
                b"SBL1": "bloom",
                b"CMS1": "cms",
                b"KMV1": "kmv",
                b"HLL1": "hll",
                b"MGS1": "mg",
            }.get(magic, "duckdb_bloom")
            if magic in (b"XORF", b"BFUS", _SHARD_MAGIC):
                raise ValueError(
                    "peeled filters (xor/fuse) are not mergeable; rebuild instead"
                )
            out.append(_merge_blobs(kind, blobs))
        return pa.array(out, type=pa.binary())

    agged = filters.groupBy(*group_cols).agg(
        F.collect_list(filter_col).alias("__blobs")
    )
    return agged.withColumn(filter_col, _merge(F.col("__blobs"))).drop("__blobs")


_KIND_BY_MAGIC = {
    b"QF01": "quotient",
    b"CKF1": "cuckoo",
    b"XORF": "xor",
    b"RIBN": "ribbon",
    b"BFUS": "binary_fuse",
    b"SBL1": "bloom",
    b"SHRD": "sharded",
    b"CMS1": "count_min",
    b"KMV1": "kmv",
    b"BKS1": "bottomk_sample",
    b"HLL1": "hyperloglog",
    b"MGS1": "misra_gries",
}


def filter_describe(filters: DataFrame, filter_col: str = "filter") -> DataFrame:
    """Metadata companion to the reference's `octet_length(filter)` sizing
    examples (docs/README.md 'Filter Comparison'): adds the sniffed blob
    kind, serialized size, stored-entry count where the format records one
    (quotient fingerprints, KMV values), the bit fill ratio for bitmap
    kinds, and the estimated false-positive rate the fill implies
    (`fill^k` for the generic bloom; per-sector mask expectation is not
    derivable for the duckdb format, so it reports bit fill only)."""

    @arrow_udf(StringType())
    def _kind(blobs: pa.Array) -> pa.Array:
        out = []
        for b in blobs.to_pylist():
            if b is None:
                out.append(None)
            else:
                out.append(_KIND_BY_MAGIC.get(bytes(b[:4]), "duckdb_bloom"))
        return pa.array(out, type=pa.string())

    @arrow_udf(LongType())
    def _entries(blobs: pa.Array) -> pa.Array:
        out = []
        for b in blobs.to_pylist():
            if b is None:
                out.append(None)
                continue
            b = bytes(b)
            magic = b[:4]
            if magic == Q._MAGIC:
                out.append(int(np.frombuffer(b[6:14], dtype="<u8")[0]))
            elif magic == CKF.CKF_MAGIC:
                out.append(int(np.count_nonzero(CKF.ck_deserialize(b)[3])))
            elif magic == KV.KMV_MAGIC:
                k, vals = KV.kmv_deserialize(b)
                out.append(int(len(vals)))
            elif magic == b"BKS1":
                from ..core import bksample as BKS

                out.append(int(len(BKS.bks_deserialize(b)[2])))
            elif magic == MG.MG_MAGIC:
                out.append(int(len(MG.mg_deserialize(b)[1])))
            else:
                out.append(None)
        return pa.array(out, type=pa.int64())

    @arrow_udf(DoubleType())
    def _fill(blobs: pa.Array) -> pa.Array:
        out = []
        for b in blobs.to_pylist():
            if b is None:
                out.append(None)
                continue
            b = bytes(b)
            magic = b[:4]
            if magic == B._MAGIC:
                words, m_bits, k = B.bloom_deserialize(b)
                out.append(float(np.unpackbits(words.view(np.uint8)).sum()) / m_bits)
            elif magic == HL.HLL_MAGIC:
                p_, regs = HL.hll_deserialize(b)
                out.append(float(np.count_nonzero(regs)) / len(regs))
            elif magic == CKF.CKF_MAGIC:
                tab = CKF.ck_deserialize(b)[3]
                out.append(float(np.count_nonzero(tab)) / tab.size)
            elif magic not in _KIND_BY_MAGIC:  # duckdb_bloom (no magic)
                sect = B.duckdb_bloom_deserialize(b)
                bits = np.unpackbits(sect.view(np.uint8)).sum()
                out.append(float(bits) / (len(sect) * 64))
            else:
                out.append(None)
        return pa.array(out, type=pa.float64())

    @arrow_udf(DoubleType())
    def _est_fpp(blobs: pa.Array) -> pa.Array:
        out = []
        for b in blobs.to_pylist():
            if b is None:
                out.append(None)
                continue
            b = bytes(b)
            if b[:4] == B._MAGIC:
                words, m_bits, k = B.bloom_deserialize(b)
                fill = float(np.unpackbits(words.view(np.uint8)).sum()) / m_bits
                out.append(fill**k)
            else:
                out.append(None)
        return pa.array(out, type=pa.float64())

    return (
        filters.withColumn("filter_kind", _kind(F.col(filter_col)))
        .withColumn("size_bytes", F.length(filter_col))
        .withColumn("n_entries", _entries(F.col(filter_col)))
        .withColumn("fill_ratio", _fill(F.col(filter_col)))
        .withColumn("est_fpp", _est_fpp(F.col(filter_col)))
    )


def filter_remove(
    filters: DataFrame,
    deletions: DataFrame,
    hash_col: str,
    on: list | None = None,
    filter_col: str = "filter",
) -> DataFrame:
    """Delete keys from per-group filters of a deletable kind — quotient
    (the reference's deletable filter, ``docs/README.md`` §Quotient
    Filters) or cuckoo (``core/cuckoo.py``); the kind is sniffed from each
    blob. ``filters`` is the output of :func:`build_filter`; ``deletions``
    carries the same group columns plus ``hash_col`` rows to remove.
    Groups cogroup so each filter is rewritten once; deletion hashes
    shuffle only to their group.

    Removal is by fingerprint: deleting a key also deletes any hash-twin
    sharing its fingerprint (quotient: the low q+r hash bits; cuckoo: the
    (fp, bucket-pair) entry) — inherent to every fingerprint filter and
    identical in the reference's quotient implementation."""
    on = list(on or [])
    dummy = not on
    if dummy:
        filters = filters.withColumn("__g", F.lit(0))
        deletions = deletions.withColumn("__g", F.lit(0))
        on = ["__g"]
    dels = deletions.select(
        *on, F.col(hash_col).cast("long").alias("__h")
    ).where(F.col("__h").isNotNull())
    schema = filters.schema

    def apply(fl_pdf: pd.DataFrame, del_pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(fl_pdf):
            return fl_pdf  # deletions for a group with no filter: no-op
        out = fl_pdf.iloc[[0]].copy()
        if len(del_pdf):
            hs = _to_u64(del_pdf["__h"])
            blob = bytes(out[filter_col].iloc[0])
            if blob[:4] == CKF.CKF_MAGIC:
                out[filter_col] = [CKF.ck_remove(blob, hs)]
            elif blob[:4] == Q._MAGIC:
                out[filter_col] = [Q.qf_remove(blob, hs)]
            else:
                raise ValueError(
                    "filter_remove supports deletable kinds only "
                    "(quotient QF01 / cuckoo CKF1); got "
                    + repr(blob[:4])
                )
        return out

    res = filters.groupBy(*on).cogroup(dels.groupBy(*on)).applyInPandas(
        apply, schema=schema
    )
    return res.drop("__g") if dummy else res


# the historical name (deletion entered the engine via the quotient kind)
quotient_filter_remove = filter_remove
cuckoo_filter_remove = filter_remove


def quotient_filter_resize(
    filters: DataFrame,
    new_q: int,
    new_r: int | None = None,
    filter_col: str = "filter",
) -> DataFrame:
    """Resize every quotient-filter blob (reference docs/README.md
    §Quotient Filters: "resizable"). Growing (q+1, r-1) keeps the stored
    q+r-bit fingerprints; shrinking truncates them — both identical to
    rebuilding at the new geometry over the same keys (core/quotient.py
    ``qf_resize``). Pure per-row blob rewrite: no shuffle, no driver
    work."""

    @arrow_udf(BinaryType())
    def _resize(blobs: pa.Array) -> pa.Array:
        out = [
            None if b is None else Q.qf_resize(bytes(b), new_q, new_r)
            for b in blobs.to_pylist()
        ]
        return pa.array(out, type=pa.binary())

    return filters.withColumn(filter_col, _resize(F.col(filter_col)))


# reference-named aliases (docs/README.md API reference)
quotient_filter_contains = filter_contains
xor8_filter_contains = filter_contains
xor16_filter_contains = filter_contains
binary_fuse8_filter_contains = filter_contains
binary_fuse16_filter_contains = filter_contains
bloom_filter_contains = filter_contains


def duckdb_bloom_probe(version: str, filter_col, *value_cols) -> Column:
    """``bitfilters_duckdb_bloom_filter_probe``: hashes the value columns
    with the version's algorithm (CombineHash for multi-key) and probes."""
    H._string_algo(version)
    if not value_cols:
        raise ValueError("duckdb_bloom_probe requires at least one value column")

    @arrow_udf(BooleanType())
    def _probe(blobs: pa.Array, *arrays: pa.Array) -> pa.Array:
        if isinstance(blobs, pa.ChunkedArray):
            blobs = blobs.combine_chunks()
        hs, hmask = _hash_arrays(arrays, version)
        out = np.zeros(len(blobs), dtype=bool)
        if len(blobs):
            codes, uniq = pd.factorize(blobs.to_pandas(), use_na_sentinel=True)
            for code, blob in enumerate(uniq):
                m = codes == code
                out[m] = B.duckdb_bloom_probe(bytes(blob), hs[m])
        mask = hmask | np.asarray(blobs.is_null())
        return pa.array(out, type=pa.bool_(), mask=mask)

    f = F.col(filter_col) if isinstance(filter_col, str) else filter_col
    vals = [F.col(c) if isinstance(c, str) else c for c in value_cols]
    return _probe(f, *vals)


def probe_cms(
    df: DataFrame,
    sketch,
    hash_col: str,
    result_col: str = "__est",
) -> DataFrame:
    """Scale-path CMS probe against ONE global sketch: the
    :func:`probe_filter` broadcast-closure pattern for frequency
    estimates. Joining (or lit-ing) the blob in as a column replicates
    the full d*w counter table into EVERY probe row's Arrow batch —
    measured ~6x slower at 1.5M probes with a 32 KB sketch; here the
    blob broadcasts once per executor and the UDF receives hashes only.
    For per-group sketches join the build output and use
    :func:`cms_estimate` (blobs stay off the driver)."""
    if isinstance(sketch, DataFrame):
        rows = sketch.collect()
        if len(rows) != 1:
            raise ValueError(
                f"probe_cms expects one global sketch row, got {len(rows)}; "
                "for per-group sketches join and use cms_estimate"
            )
        blob = bytes(rows[0]["filter"])
    else:
        blob = bytes(sketch)
    bc = df.sparkSession.sparkContext.broadcast(blob)

    @arrow_udf(LongType())
    def _est(hashes: pa.Array) -> pa.Array:
        h, hmask = _arrow_hashes_u64(hashes)
        out = (
            CM.cms_estimate(bc.value, h).astype(np.int64)
            if len(h)
            else np.zeros(0, dtype=np.int64)
        )
        return pa.array(out, type=pa.int64(), mask=hmask)

    return df.withColumn(result_col, _est(F.col(hash_col)))
