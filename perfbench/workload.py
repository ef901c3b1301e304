"""Seeded inputs for the filter-path benchmark, and their numpy oracle.

Every input is generated here from ``(seed, scale)`` with numpy and written
as parquet with pyarrow; Spark only ever reads the files. The oracle answers
(per-group member counts, join aggregates, anti-join count, lookup row
counts) are computed from the same numpy arrays and never go through
``bitfilters_spark``.

Keys are bigint on both sides of every use. Members are drawn from
``[0, 2**40)`` and non-members from ``[2**40, 2**41)``, so a non-member is
never a member.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_MEMBER_HI = 1 << 40
_ABSENT_LO, _ABSENT_HI = 1 << 40, 1 << 41

# Input sizes. "full" is what a measured run uses; "tiny" is the self-test's.
# Both keep the shapes of the uses they model: the grouped build probes one
# sample row per 16 keys, half of them members, and the join probes 20 fact
# rows per kept dim key.
SCALES = {
    "full": dict(
        keys=1_000_000, groups=64, sample_members=32_000,
        sample_absent=32_000, fact=1_000_000, dim=2_500_000, dim_keep_pct=2,
        table=512_000, table_files=64,
    ),
    "tiny": dict(
        keys=20_000, groups=8, sample_members=625, sample_absent=625,
        fact=40_000, dim=100_000, dim_keep_pct=2, table=8_000, table_files=8,
    ),
}

LOOKUP_KEYS = 4  # IN-list length of one point lookup: 1 present, 3 absent
ATTRS = 16  # distinct values of the join's aggregate column


def _distinct(rng: np.random.Generator, n: int, lo: int, hi: int) -> np.ndarray:
    """``n`` distinct int64 values from ``[lo, hi)`` in random order."""
    out = np.zeros(0, dtype=np.int64)
    while len(out) < n:
        draw = rng.integers(lo, hi, size=int(n * 1.05) + 16, dtype=np.int64)
        out = np.unique(np.concatenate([out, draw]))
    return rng.permutation(out)[:n]


def zipf_sizes(n: int, groups: int) -> np.ndarray:
    """Exact Zipf(1) group sizes (group g ∝ 1/(g+1)) summing to ``n``."""
    w = 1.0 / np.arange(1, groups + 1)
    sizes = np.floor(w / w.sum() * n).astype(np.int64)
    sizes[: n - sizes.sum()] += 1
    return sizes


def next_pow2(x: float) -> int:
    return 1 << max(0, math.ceil(math.log2(max(x, 1))))


def _write(path: str, table: pa.Table, files: int) -> None:
    """``table`` split into ``files`` parquet files under directory ``path``."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(np.int64)
    for i in range(files):
        pq.write_table(
            table.slice(bounds[i], bounds[i + 1] - bounds[i]),
            os.path.join(path, f"part-{i:03d}.parquet"),
        )


@dataclass
class GroupInputs:
    """Grouped build: distinct keys in Zipf-sized groups, and a probe sample
    of members and non-members whose groups follow the same distribution."""

    keys_path: str
    sample_path: str
    n_keys: int
    groups: int
    params: dict  # filter kind -> build_filter keyword arguments
    member_counts: dict  # group -> sample members in that group
    absent_total: int  # sample non-members


@dataclass
class JoinInputs:
    """Join pre-filtering: fact keys uniform over the dim's key space; the
    dim predicate ``sel < keep`` keeps ``keep`` percent of the dim keys."""

    fact_path: str
    dim_path: str
    keep: int
    n_fact: int
    params: dict  # build_filter keyword arguments for the dim filter
    counts: dict  # attr -> rows of the exact inner join
    matches: int  # fact rows with a key among the kept dim keys
    anti: int  # fact rows with no key among the kept dim keys


@dataclass
class TableInputs:
    """Data skipping: table keys spread at random over equal-sized files, and
    point lookups of one present and three absent keys."""

    path: str
    files: int
    params: dict  # build_filter keyword arguments for each file's bloom
    lookups: list = field(default_factory=list)  # IN-lists
    rows: list = field(default_factory=list)  # oracle row count per lookup
    hit_files: list = field(default_factory=list)  # files holding a match


def group_inputs(root: str, seed: int, scale: str = "full") -> GroupInputs:
    size = SCALES[scale]
    rng = np.random.default_rng([seed, 1])
    n, groups = size["keys"], size["groups"]
    sizes = zipf_sizes(n, groups)
    keys = _distinct(rng, n, 0, _MEMBER_HI)
    grp = rng.permutation(np.repeat(np.arange(groups, dtype=np.int32), sizes))
    _write(f"{root}/keys", pa.table({"g": grp, "k": keys}), 8)
    pick = rng.choice(n, size["sample_members"], replace=False)
    absent = _distinct(rng, size["sample_absent"], _ABSENT_LO, _ABSENT_HI)
    absent_grp = rng.choice(groups, len(absent), p=sizes / n).astype(np.int32)
    _write(f"{root}/sample", pa.table({
        "g": np.concatenate([grp[pick], absent_grp]),
        "k": np.concatenate([keys[pick], absent]),
        "member": np.concatenate([np.ones(len(pick), bool), np.zeros(len(absent), bool)]),
    }), 4)
    biggest = int(sizes.max())
    return GroupInputs(
        keys_path=f"{root}/keys", sample_path=f"{root}/sample", n_keys=n, groups=groups,
        # one parameter set serves every group, so size it for the largest:
        # ~8 bits/key for the blocked bloom, a 1/64 false-positive rate for
        # the quotient filter's fingerprints
        params={
            "duckdb_bloom": {"num_sectors": next_pow2(biggest / 8)},
            "xor8": {},
            "quotient": {"q": math.ceil(math.log2(biggest)), "r": 6},
        },
        member_counts={int(g): int(c) for g, c in enumerate(np.bincount(grp[pick], minlength=groups)) if c},
        absent_total=len(absent),
    )


def join_inputs(root: str, seed: int, scale: str = "full") -> JoinInputs:
    size = SCALES[scale]
    rng = np.random.default_rng([seed, 2])
    n_fact, n_dim, keep = size["fact"], size["dim"], size["dim_keep_pct"]
    fk = rng.integers(0, n_dim, n_fact, dtype=np.int64)
    attr = rng.integers(0, ATTRS, n_fact, dtype=np.int32)
    _write(f"{root}/fact", pa.table({"fk": fk, "attr": attr}), 8)
    sel = rng.integers(0, 100, n_dim, dtype=np.int8)
    _write(f"{root}/dim", pa.table({"dk": np.arange(n_dim, dtype=np.int64), "sel": sel}), 8)
    kept = sel < keep
    hit = kept[fk]
    return JoinInputs(
        fact_path=f"{root}/fact", dim_path=f"{root}/dim", keep=keep, n_fact=n_fact,
        params={"num_sectors": next_pow2(kept.sum() / 8)},
        counts={int(a): int(c) for a, c in enumerate(np.bincount(attr[hit], minlength=ATTRS)) if c},
        matches=int(hit.sum()), anti=int(n_fact - hit.sum()),
    )


def table_inputs(root: str, seed: int, scale: str = "full", lookups: int = 1000) -> TableInputs:
    size = SCALES[scale]
    rng = np.random.default_rng([seed, 3])
    n, files = size["table"], size["table_files"]
    keys = _distinct(rng, n, 0, _MEMBER_HI)
    _write(f"{root}/table", pa.table({"k": keys, "v": np.arange(n, dtype=np.int64)}), files)
    file_of = np.repeat(np.arange(files), np.diff(np.linspace(0, n, files + 1).astype(np.int64)))
    present = keys[rng.integers(0, n, lookups)]
    absent = rng.integers(_ABSENT_LO, _ABSENT_HI, (lookups, LOOKUP_KEYS - 1))
    order = np.argsort(keys)
    out = TableInputs(path=f"{root}/table", files=files, params={"n": n // files, "fpp": 0.01})
    for i in range(lookups):
        vals = np.concatenate([[present[i]], absent[i]])
        pos = np.minimum(np.searchsorted(keys, vals, sorter=order), n - 1)
        found = keys[order[pos]] == vals
        out.lookups.append([int(v) for v in vals])
        out.rows.append(int(found.sum()))
        out.hit_files.append({int(f) for f in file_of[order[pos[found]]]})
    return out
