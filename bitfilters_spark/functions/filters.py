"""Filter build (per-group aggregate) and probe (row-wise) operators.

Reference surface re-expressed for Spark's execution model
(``docs/README.md`` of the reference lists the SQL functions; builds are
GROUP BY aggregates, probes are scalar functions):

Formats — ``_FORMATS`` is the one table of blob formats: per kind its
magic, the label ``filter_describe`` reports, probe, merge, describe,
delete, and how it builds (a partial fold for mergeable kinds, a bulk
build for peeled ones). Every sniff, probe, merge and build below reads
it; ``sql.py`` registers this module's UDFs.

Build — ``build_filter(df, group_cols, hash_col, kind, ...)`` returns a
DataFrame ``group_cols + [filter: binary]``. The plan follows the
kind's algebra, not the data size:

* **duckdb_bloom**: in the JVM. Each hash's sector and 4-bit mask are
  Catalyst expressions, ``bit_or`` ORs the masks per (group, sector) with
  a partial aggregate before its shuffle, and only the aggregated rows (at
  most ``num_sectors`` per group) reach a Python worker, which packs each
  group's blob.
* **other mergeable** (``bloom``, ``quotient``, ``cuckoo``, ``cms``,
  ``kmv``, ``hll``, ``mg``): the partial fold ``build_filters_multi``
  runs too. One ``mapInArrow`` pass folds each Arrow batch into a
  running state per group and emits one partial blob per (partition,
  group); the shuffle carries those ``#partitions × #groups`` blobs,
  never rows, and one ``applyInArrow`` task per group merges them —
  merge(build(A), build(B)) = build(A ∪ B).
* **peeled** (``xor8/16``, ``fuse8/16``, ``ribbon8/16``): construction
  needs the whole key set at once (hypergraph peeling / banded solve), so
  rows shuffle to their group's builder (``groupBy().applyInPandas``), or
  with ``num_shards`` to one builder per (group, hash-prefix shard) and an
  assembly task per group.

NULL hashes are skipped; a NULL group key is a group of its own (SQL
GROUP BY), for every kind.

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

import datetime
from typing import Callable, Iterator, NamedTuple

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
    TimestampNTZType,
    TimestampType,
)

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type

from ..core import bksample as BKS
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


def _to_u64(s: pd.Series) -> np.ndarray:
    return s.to_numpy(dtype=np.int64, na_value=0).view(np.uint64)


# ------------------------------------------------------------ formats ---


class _Format(NamedTuple):
    """One blob format.

    ``magic`` is the 4-byte header (None: the headerless duckdb_bloom
    layout) and ``label`` the name ``filter_describe`` reports.
    ``probe(blob, hashes)`` answers membership, ``merge(blobs)`` unions
    blobs (None: not mergeable), ``describe(blob)`` gives ``(n_entries,
    fill_ratio, est_fpp)`` and ``remove(blob, hashes)`` deletes keys.
    A mergeable kind builds through ``fold(state, hashes, params)``, which
    folds one batch's hashes into the running partial state (None before
    the first batch), and ``serialize(state, params)``, the partial blob
    ``merge`` finishes; a peeled kind through ``build(hashes, params)``
    over its whole key set."""

    magic: bytes | None
    label: str
    probe: Callable
    merge: Callable | None = None
    fold: Callable | None = None
    serialize: Callable | None = None
    build: Callable | None = None
    describe: Callable = lambda blob: (None, None, None)
    remove: Callable | None = None


def _fold_with(part: Callable, combine: Callable) -> Callable:
    """``fold`` from a batch's partial state ``part(hashes, params)`` and
    the ``combine(a, b)`` of two states."""

    def fold(state, hashes: np.ndarray, p: dict):
        new = part(hashes, p)
        return new if state is None else combine(state, new)

    return fold


def _mg_fold(state, hashes: np.ndarray, p: dict):
    """Exact counts of the batch, added to the state, compressed after each
    batch: per-group state stays <= k counters regardless of partition
    size (the PODS'12 merge keeps the n/(k+1) bound)."""
    keys, counts = np.unique(hashes, return_counts=True)
    counts = counts.astype(np.uint64)
    if state is not None:
        keys, inv = np.unique(np.concatenate([state[0], keys]), return_inverse=True)
        summed = np.zeros(len(keys), dtype=np.uint64)
        np.add.at(summed, inv, np.concatenate([state[1], counts]))
        counts = summed
    return MG.mg_summarize(keys, counts, p["k"])


def _not_membership(what: str, use: str) -> Callable:
    def probe(blob: bytes, hashes: np.ndarray) -> np.ndarray:
        raise ValueError(f"{what}, not a membership filter; {use}")

    return probe


def _bits(words: np.ndarray) -> float:
    return float(np.unpackbits(words.view(np.uint8)).sum())


def _describe_bloom(blob: bytes) -> tuple:
    words, m_bits, k = B.bloom_deserialize(blob)
    fill = _bits(words) / m_bits
    return None, fill, fill**k


def _describe_cuckoo(blob: bytes) -> tuple:
    tab = CKF.ck_deserialize(blob)[3]
    used = int(np.count_nonzero(tab))
    return used, used / tab.size, None


def _describe_duckdb_bloom(blob: bytes) -> tuple:
    sect = B.duckdb_bloom_deserialize(blob)
    return None, _bits(sect) / (len(sect) * 64), None


def _describe_hll(blob: bytes) -> tuple:
    regs = HL.hll_deserialize(blob)[1]
    return None, float(np.count_nonzero(regs)) / len(regs), None


def _peeled(magic: bytes, label: str, probe: Callable, build: Callable, bits: int) -> _Format:
    return _Format(magic, label, probe, build=lambda h, p: build(h, bits))


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


_FORMATS = {
    "quotient": _Format(
        Q._MAGIC, "quotient", Q.qf_probe, Q.qf_merge,
        fold=_fold_with(
            lambda h, p: np.unique(Q.qf_fingerprints(h, p["q"], p["r"])), np.union1d
        ),
        serialize=lambda st, p: Q.qf_serialize(p["q"], p["r"], st),
        describe=lambda b: (len(Q.qf_deserialize(b)[2]), None, None),
        remove=Q.qf_remove,
    ),
    "cuckoo": _Format(
        CKF.CKF_MAGIC, "cuckoo", CKF.ck_probe, CKF.ck_merge,
        fold=_fold_with(
            lambda h, p: CKF.ck_entries(h, p["nbuckets"], p["fp_bits"]), np.union1d
        ),
        serialize=lambda st, p: CKF.ck_partial_serialize(
            st, p["nbuckets"], p["fp_bits"], p.get("bucket_size", 4)
        ),
        describe=_describe_cuckoo,
        remove=CKF.ck_remove,
    ),
    "duckdb_bloom": _Format(
        None, "duckdb_bloom", B.duckdb_bloom_probe, B.duckdb_bloom_merge,
        fold=_fold_with(
            lambda h, p: B.duckdb_bloom_build(h, p["num_sectors"]), np.bitwise_or
        ),
        serialize=lambda st, p: B.duckdb_bloom_serialize(st),
        describe=_describe_duckdb_bloom,
    ),
    "bloom": _Format(
        B._MAGIC, "bloom", B.bloom_probe, B.bloom_merge,
        fold=_fold_with(lambda h, p: B.bloom_build(h, p["n"], p["fpp"]), np.bitwise_or),
        serialize=lambda st, p: B.bloom_serialize(st, B.bloom_params(p["n"], p["fpp"])[1]),
        describe=_describe_bloom,
    ),
    "cms": _Format(
        CM.CMS_MAGIC, "count_min",
        _not_membership("count-min sketch is a frequency sketch", "probe with cms_estimate()"),
        CM.cms_merge,
        fold=_fold_with(lambda h, p: CM.cms_counts(h, p["d"], p["w"]), np.add),
        serialize=lambda st, p: CM.cms_serialize(st),
    ),
    "kmv": _Format(
        KV.KMV_MAGIC, "kmv",
        _not_membership("KMV is a cardinality sketch", "use kmv_distinct()"),
        KV.kmv_merge,
        fold=lambda st, h, p: np.unique(
            h if st is None else np.concatenate([st, np.unique(h)[: p["k"]]])
        )[: p["k"]],
        serialize=lambda st, p: KV.kmv_serialize(p["k"], st),
        describe=lambda b: (len(KV.kmv_deserialize(b)[1]), None, None),
    ),
    "hll": _Format(
        HL.HLL_MAGIC, "hyperloglog",
        _not_membership("HyperLogLog is a cardinality sketch", "use hll_distinct()"),
        HL.hll_merge,
        fold=_fold_with(lambda h, p: HL.hll_registers(h, p["p"]), np.maximum),
        serialize=lambda st, p: HL.hll_serialize(p["p"], st),
        describe=_describe_hll,
    ),
    "mg": _Format(
        MG.MG_MAGIC, "misra_gries",
        _not_membership("Misra-Gries is a frequency sketch", "use mg_estimate()"),
        MG.mg_merge,
        fold=_mg_fold,
        serialize=lambda st, p: MG.mg_serialize(p["k"], *st),
        describe=lambda b: (len(MG.mg_deserialize(b)[1]), None, None),
    ),
    "xor8": _peeled(X._MAGIC, "xor", X.xor_probe, X.xor_build, 8),
    "xor16": _peeled(X._MAGIC, "xor", X.xor_probe, X.xor_build, 16),
    "fuse8": _peeled(FU._MAGIC, "binary_fuse", FU.fuse_probe, FU.fuse_build, 8),
    "fuse16": _peeled(FU._MAGIC, "binary_fuse", FU.fuse_probe, FU.fuse_build, 16),
    "ribbon8": _peeled(RB.RIBBON_MAGIC, "ribbon", RB.ribbon_probe, RB.ribbon_build, 8),
    "ribbon16": _peeled(RB.RIBBON_MAGIC, "ribbon", RB.ribbon_probe, RB.ribbon_build, 16),
    # formats no build_filter kind emits
    "sharded": _Format(_SHARD_MAGIC, "sharded", _shard_probe),
    "bks": _Format(
        BKS.BKS_MAGIC, "bottomk_sample",
        _not_membership("a bottom-k sample is a row sample", "use bks_quantile()"),
        describe=lambda b: (len(BKS.bks_deserialize(b)[2]), None, None),
    ),
}
_BY_MAGIC = {f.magic: f for f in _FORMATS.values() if f.magic}
MERGEABLE = {k for k, f in _FORMATS.items() if f.fold}
PEELED = {k for k, f in _FORMATS.items() if f.build}


def _format_of(blob: bytes) -> _Format:
    """The format of a blob, sniffed from its header."""
    return _BY_MAGIC.get(bytes(blob[:4]), _FORMATS["duckdb_bloom"])


def _probe_blob(blob: bytes, hashes: np.ndarray) -> np.ndarray:
    return _format_of(blob).probe(blob, hashes)


def _merge_blobs(kind: str, blobs: list) -> bytes:
    f = _FORMATS.get(kind)
    if f is None or f.merge is None:
        raise ValueError(f"filter kind {kind!r} is not mergeable")
    return f.merge(blobs)


# -------------------------------------------------------------- build ---


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


def _group_codes(columns: list, n: int) -> tuple[np.ndarray, list]:
    """Factorize the key columns (Arrow arrays) of a batch of ``n`` rows in
    Arrow: a group code per row and the key tuple of each code. Integers
    stay exact when the batch holds NULLs, which pandas would turn into
    float64 (2^53 + 1 would become 2^53). A NULL is a key value of its own
    (``None``); no key columns make one group, ``()``."""
    codes = np.zeros(n, dtype=np.int64)
    keys = [()] if n else []
    for col in columns:
        enc = col.dictionary_encode()
        uniq = enc.dictionary.to_pylist()
        if enc.null_count:
            uniq.append(None)
        col_codes = pc.fill_null(enc.indices, len(uniq) - 1).to_numpy().astype(np.int64)
        if len(keys) == 1:
            codes, keys = col_codes, [keys[0] + (u,) for u in uniq]
        else:
            m = len(uniq)
            codes, pairs = pd.factorize(codes * m + col_codes)
            keys = [keys[v // m] + (uniq[v % m],) for v in pairs.tolist()]
    return codes, keys


_TIMESTAMPS = (TimestampType, TimestampNTZType)


def _key_array(arr):
    """A group-key Arrow array as a grouped probe keys it: a timestamp as
    its epoch micros (int64), the value the collected filter map and the
    probe UDF both see; any other type unchanged. Collected, a timestamp
    is a naive ``datetime`` and the UDF's Arrow value an aware one, so
    they never matched."""
    return arr.cast(pa.int64()) if pa.types.is_timestamp(arr.type) else arr


def _timestamp_keys(fmap: dict, df: DataFrame, on: list) -> dict:
    """``fmap`` with each ``datetime`` key part of a timestamp ``on``
    column as its epoch micros (Spark's own conversion of that type)."""
    types = {f.name: f.dataType for f in df.schema.fields}
    conv = [types.get(c) if isinstance(types.get(c), _TIMESTAMPS) else None for c in on]
    return {
        tuple(t.toInternal(x) if t and isinstance(x, datetime.datetime) else x
              for t, x in zip(conv, k)): b
        for k, b in fmap.items()
    }


def _batch_groups(batch: pa.RecordBatch, group_cols: list) -> Iterator[tuple]:
    """``(group key tuple, u64 hashes)`` per group of one batch of
    ``group_cols + [__h]`` (``__h`` never NULL). A NULL key is a group of
    its own."""
    hs = batch.column("__h").to_numpy(zero_copy_only=False).view(np.uint64)
    codes, keys = _group_codes([batch.column(c) for c in group_cols], batch.num_rows)
    for code, key in enumerate(keys):
        yield key, hs[codes == code]


def _fold_build(
    proj: DataFrame, group_cols: list, specs: list, filter_col: str
) -> DataFrame:
    """The partial fold behind every Python-side build except the peeled
    ``build_filter``: ``group_cols + (filter_type, filter, __shard)``, one
    row per (group, spec name, shard).

    One ``mapInArrow`` pass folds each batch of each partition into a
    running state per (group, mergeable spec) and emits one partial blob
    each; a peeled spec instead carries the partition's distinct hashes
    of the group, split by hash-prefix shard when its params hold
    ``num_shards``, and raw hashes are kept only when some spec is
    peeled. One finish task per (group, name, shard) merges the partials
    or bulk-builds the peeled filter; ``__shard`` is -1 when unsharded."""
    by_name = {name: (_FORMATS[kind], p) for name, kind, p in specs}
    folds = {n: fp for n, fp in by_name.items() if fp[0].fold}
    peeled = [n for n in by_name if n not in folds]
    shards = {n: int(by_name[n][1].get("num_shards") or 0) for n in peeled}
    schema = StructType(
        [proj.schema[c] for c in group_cols] + [
            StructField("filter_type", StringType()),
            StructField(filter_col, BinaryType()),
            StructField("__shard", IntegerType()),
        ]
    )

    def partials(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        state: dict = {}
        raw: dict = {}
        key_types = None
        for batch in batches:
            key_types = [batch.schema.field(c).type for c in group_cols]
            for gkey, hs in _batch_groups(batch, group_cols):
                for name, (f, p) in folds.items():
                    state[gkey, name] = f.fold(state.get((gkey, name)), hs, p)
                if peeled:
                    raw.setdefault(gkey, []).append(hs)
        rows = [
            (*gkey, name, folds[name][0].serialize(st, folds[name][1]), -1)
            for (gkey, name), st in state.items()
        ]
        for gkey, parts in raw.items():
            hs = np.unique(np.concatenate(parts))
            for name in peeled:
                sh = _shard_of(hs, shards[name]) if shards[name] else None
                for s in [-1] if sh is None else np.unique(sh):
                    sub = hs if sh is None else hs[sh == s]
                    rows.append((*gkey, name, sub.astype("<u8").tobytes(), int(s)))
        if rows:
            types = key_types + [pa.string(), pa.binary(), pa.int32()]
            yield pa.RecordBatch.from_arrays(
                [pa.array(list(v), t) for v, t in zip(zip(*rows), types)],
                names=schema.names,
            )

    def finish(t: pa.Table) -> pa.Table:
        f, p = by_name[t["filter_type"][0].as_py()]
        payloads = t[filter_col].to_pylist()
        if f.fold:
            blob = f.merge(payloads)
        else:
            hs = np.unique(np.concatenate([np.frombuffer(b, dtype="<u8") for b in payloads]))
            blob = f.build(hs, p)
        i = t.schema.get_field_index(filter_col)
        return t.slice(0, 1).set_column(i, t.schema.field(i), pa.array([blob], pa.binary()))

    return proj.mapInArrow(partials, schema=schema).groupBy(
        *group_cols, "filter_type", "__shard"
    ).applyInArrow(finish, schema=schema)


def _project_hashes(df: DataFrame, group_cols: list, hash_col: str) -> DataFrame:
    # NULL hashes are skipped, like DuckDB aggregates skip NULL inputs; this
    # also guarantees the pandas batches keep int64 dtype (a null would
    # force float64 and round 64-bit hash values)
    return df.select(*group_cols, F.col(hash_col).cast("long").alias("__h")).where(
        F.col("__h").isNotNull()
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
    if kind not in MERGEABLE | PEELED:
        raise ValueError(f"unknown filter kind {kind!r}")
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
    proj = _project_hashes(df, group_cols, hash_col)
    gfields = [proj.schema[c] for c in group_cols]
    out_schema = StructType(gfields + [StructField(filter_col, BinaryType())])

    if kind == "duckdb_bloom":
        out = _build_duckdb_bloom(proj, group_cols, num_sectors, out_schema)
    elif kind in MERGEABLE:
        out = _fold_build(proj, group_cols, [(kind, kind, params)], filter_col).drop(
            "filter_type", "__shard"
        )
    elif num_shards and num_shards > 1:
        build = _FORMATS[kind].build
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
            blob = build(_to_u64(pdf["__h"]), params)
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
        build = _FORMATS[kind].build

        def build_group(pdf: pd.DataFrame) -> pd.DataFrame:
            blob = build(_to_u64(pdf["__h"]), params)
            return pd.DataFrame([(*[pdf[c].iloc[0] for c in group_cols], blob)],
                                columns=group_cols + [filter_col])

        out = proj.groupBy(*group_cols).applyInPandas(build_group, schema=out_schema)

    return out.drop("__g") if dummy else out


def build_filters_multi(
    df: DataFrame,
    hash_col: str,
    specs: list,
    filter_col: str = "filter",
    group_cols: list | None = None,
) -> DataFrame:
    """Build MANY filters over the same key set in ONE scan.

    ``specs`` is ``[(name, kind, params_dict), ...]``; a params dict holds
    the ``build_filter`` keyword arguments its kind reads. The partial
    fold ``build_filter`` uses for mergeable kinds runs every spec in a
    single ``mapInArrow`` pass: each partition yields one payload per
    (group, spec) — a partial blob for mergeable kinds, the partition's
    distinct raw hashes for peeled kinds (which need the full key set
    anyway) — and a per-(group, name) task finishes each filter.
    The input is scanned exactly once regardless of how many filters are
    requested (vs. one scan per filter). Returns
    ``group_cols + (filter_type, filter)``.

    A peeled spec may carry ``"num_shards": NS`` in its params: the
    group's key set then splits by hash prefix into NS independently
    built sub-filters assembled into one SHRD container (the same
    container ``build_filter(num_shards=...)`` emits). This removes the
    single-task bottleneck of a huge group's sequential peeled
    construction: the finish stage runs one task per (group, kind,
    shard) instead of per (group, kind), so a billion-key group builds in
    parallel across the cluster. Probe dispatch is unchanged
    (magic-sniffed); the container size stays SQL-replayable because the
    shard split is a pure function of the hash prefix.
    """
    group_cols = list(group_cols or [])
    for _, kind, _ in specs:
        if kind not in MERGEABLE | PEELED:
            raise ValueError(f"unknown filter kind {kind!r}")
    sharded = {
        name: int(p["num_shards"])
        for name, kind, p in specs
        if kind in PEELED and p.get("num_shards")
    }
    finished = _fold_build(
        _project_hashes(df, group_cols, hash_col), group_cols, specs, filter_col
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

    out_schema = StructType([f for f in finished.schema.fields if f.name != "__shard"])
    return finished.groupBy(*group_cols, "filter_type").applyInPandas(
        assemble, schema=out_schema
    )


# -------------------------------------------------------------- probe ---


def _arrow_hashes_u64(hashes: "pa.Array") -> tuple[np.ndarray, np.ndarray]:
    """(u64 hash values, null mask) from an int64 arrow array — exact even
    when the batch contains nulls (no pandas float64 round-trip)."""
    if isinstance(hashes, pa.ChunkedArray):
        hashes = hashes.combine_chunks()
    mask = np.asarray(hashes.is_null())
    h = pc.fill_null(hashes, 0).to_numpy().astype(np.int64, copy=False).view(np.uint64)
    return h, mask


def _per_blob(fn: Callable, out_type: pa.DataType, blobs, h: np.ndarray, hmask) -> pa.Array:
    """``fn(blob, hashes)`` over an Arrow batch of (blob, u64 hash) rows:
    each distinct blob is deserialized once and its rows go through ``fn``
    in one vectorized call. NULL blob or hash → NULL."""
    if isinstance(blobs, pa.ChunkedArray):
        blobs = blobs.combine_chunks()
    out = np.zeros(len(h), dtype=out_type.to_pandas_dtype())
    if len(h):
        codes, uniq = pd.factorize(blobs.to_pandas(), use_na_sentinel=True)
        for code, blob in enumerate(uniq):
            m = codes == code
            out[m] = fn(bytes(blob), h[m])
    return pa.array(out, type=out_type, mask=hmask | np.asarray(blobs.is_null()))


def _per_row(fn: Callable, out_type: pa.DataType, blobs) -> pa.Array:
    """``fn(blob)`` per row of a blob column; NULL → NULL."""
    return pa.array(
        [None if b is None else fn(bytes(b)) for b in blobs.to_pylist()], type=out_type
    )


def _col(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


# The scalar UDFs over blob columns; ``sql.register_sql_functions``
# registers these same objects.
@arrow_udf(BooleanType())
def _contains_udf(blobs, hashes):
    return _per_blob(_probe_blob, pa.bool_(), blobs, *_arrow_hashes_u64(hashes))


@arrow_udf(LongType())
def _cms_estimate_udf(blobs, hashes):
    return _per_blob(
        lambda b, h: CM.cms_estimate(b, h).astype(np.int64),
        pa.int64(), blobs, *_arrow_hashes_u64(hashes),
    )


@arrow_udf(LongType())
def _mg_estimate_udf(blobs, hashes):
    return _per_blob(
        lambda b, h: MG.mg_estimate(b, h).astype(np.int64),
        pa.int64(), blobs, *_arrow_hashes_u64(hashes),
    )


@arrow_udf(LongType())
def _kmv_distinct_udf(blobs):
    return _per_row(KV.kmv_estimate, pa.int64(), blobs)


@arrow_udf(LongType())
def _hll_distinct_udf(blobs):
    return _per_row(HL.hll_estimate, pa.int64(), blobs)


@arrow_udf(StringType())
def _kind_udf(blobs):
    return _per_row(lambda b: _format_of(b).label, pa.string(), blobs)


_DESCRIBE = StructType([
    StructField("n_entries", LongType()),
    StructField("fill_ratio", DoubleType()),
    StructField("est_fpp", DoubleType()),
])


@arrow_udf(_DESCRIBE)
def _describe_udf(blobs):
    return _per_row(
        lambda b: dict(zip(_DESCRIBE.names, _format_of(b).describe(b))),
        to_arrow_type(_DESCRIBE),
        blobs,
    )


def filter_contains(filter_col, hash_col) -> Column:
    """True if the filter may contain the hash (no false negatives).

    Works for every blob format this engine produces (format sniffed from
    the blob header). Each distinct blob in an Arrow batch is deserialized
    once; probes are whole-batch vectorized. NULL hash or NULL filter →
    NULL (reference scalar-function semantics).
    """
    return _contains_udf(_col(filter_col), _col(hash_col))


def cms_estimate(filter_col, hash_col) -> Column:
    """Estimated occurrence count of the hashed key against a CMS1 blob.

    Count-min semantics: exact or OVERestimate, never under (est(x) =
    min over rows of the sum of counts colliding with x). Vectorized like
    ``filter_contains``: each distinct blob deserialized once per batch.
    NULL hash or NULL blob -> NULL.
    """
    return _cms_estimate_udf(_col(filter_col), _col(hash_col))


def kmv_distinct(filter_col) -> Column:
    """Deterministic distinct-count estimate from a KMV1 blob (exact while
    the sketch is under-full; integer arithmetic at capacity, so an
    external engine reproduces the value exactly)."""
    return _kmv_distinct_udf(_col(filter_col))


def hll_distinct(filter_col) -> Column:
    """Distinct-count estimate from an HLL1 blob (deterministic; exact in
    the small range while every key owns its own register via the linear
    counting correction). The fixed-2^p-byte sibling of
    :func:`kmv_distinct` for billion-group rollups."""
    return _hll_distinct_udf(_col(filter_col))


def mg_estimate(filter_col, hash_col) -> Column:
    """Misra–Gries lower-bound count of the hashed key (0 = not tracked;
    the CMS complement: CMS only overcounts, MG only undercounts, and
    their interval brackets the true count). Vectorized like
    ``filter_contains``: each distinct blob deserialized once per batch."""
    return _mg_estimate_udf(_col(filter_col), _col(hash_col))


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

    def explode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # group values are taken from the Arrow columns, so a bigint key
        # beside a NULL never passes through float64
        for batch in batches:
            rows, keys, counts = [], [], []
            for i, b in enumerate(batch.column(filter_col).to_pylist()):
                if b is None:
                    continue
                ks, cs = MG.mg_topk(b, top_k)
                rows.append(np.full(len(ks), i, dtype=np.int64))
                keys.append(ks.view(np.int64))
                counts.append(cs.astype(np.int64))
            if not rows:
                continue
            idx = pa.array(np.concatenate(rows))
            yield pa.RecordBatch.from_arrays(
                [batch.column(g).take(idx) for g in group_names]
                + [pa.array(np.concatenate(keys)), pa.array(np.concatenate(counts))],
                names=schema.names,
            )

    return filters.mapInArrow(explode, schema=schema)


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
        if any(isinstance(filters.schema[c].dataType, _TIMESTAMPS) for c in fkey_cols):
            t = filters.toArrow()
            keys = zip(*(_key_array(t.column(c)).to_pylist() for c in fkey_cols))
            fmap = dict(zip(keys, t.column("filter").to_pylist()))
        else:
            fmap = {
                tuple(row[c] for c in fkey_cols): bytes(row["filter"])
                for row in filters.collect()
            }
    else:
        fmap = {tuple(k) if isinstance(k, (tuple, list)) else (k,): bytes(v)
                for k, v in filters.items()}
        if any(isinstance(x, datetime.datetime) for k in fmap for x in k):
            fmap = _timestamp_keys(fmap, df, on)
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
        if blob is None or _format_of(blob) is _FORMATS["duckdb_bloom"]:
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
            codes, keys = _group_codes([_key_array(a) for a in arrays[:-1]], len(h))
            for code, key in enumerate(keys):
                blob = None if None in key else m.get(key)
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
            f = _format_of(blobs[0])
            if f.merge is None:
                raise ValueError(f"{f.label} filters are not mergeable; rebuild instead")
            out.append(f.merge(blobs))
        return pa.array(out, type=pa.binary())

    agged = filters.groupBy(*group_cols).agg(
        F.collect_list(filter_col).alias("__blobs")
    )
    return agged.withColumn(filter_col, _merge(F.col("__blobs"))).drop("__blobs")


def filter_describe(filters: DataFrame, filter_col: str = "filter") -> DataFrame:
    """Metadata companion to the reference's `octet_length(filter)` sizing
    examples (docs/README.md 'Filter Comparison'): adds the sniffed blob
    kind, serialized size, stored-entry count where the format records one
    (quotient fingerprints, KMV values), the bit fill ratio for bitmap
    kinds, and the estimated false-positive rate the fill implies
    (`fill^k` for the generic bloom; per-sector mask expectation is not
    derivable for the duckdb format, so it reports bit fill only)."""

    col = F.col(filter_col)
    return (
        filters.withColumn("filter_kind", _kind_udf(col))
        .withColumn("size_bytes", F.length(col))
        .withColumn("__describe", _describe_udf(col))
        .withColumns({c: F.col(f"__describe.{c}") for c in _DESCRIBE.names})
        .drop("__describe")
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
            remove = _format_of(blob).remove
            if remove is None:
                raise ValueError(
                    "filter_remove supports deletable kinds only "
                    "(quotient QF01 / cuckoo CKF1); got "
                    + repr(blob[:4])
                )
            out[filter_col] = [remove(blob, hs)]
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
        return _per_row(lambda b: Q.qf_resize(b, new_q, new_r), pa.binary(), blobs)

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
        return _per_blob(
            B.duckdb_bloom_probe, pa.bool_(), blobs, *_hash_arrays(arrays, version)
        )

    return _probe(_col(filter_col), *[_col(c) for c in value_cols])


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
