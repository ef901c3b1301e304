"""Quotient filter kernel — exact fingerprint-set semantics.

The reference's ``quotient_filter(q, r, hash)`` (vendor ``quotient-filter/``)
maps a hash to ``quotient = (h >> r) & (2^q - 1)`` and
``remainder = h & (2^r - 1)`` (``quotient_filter.cpp:151-157``), i.e. the
filter stores — losslessly — the SET of low ``q + r`` hash bits, and
``may_contain(h)`` is exactly "is ``h & (2^(q+r)-1)`` in that set".  A
quotient filter's false positives come purely from fingerprint truncation.

We therefore keep the same membership semantics with a different physical
encoding (sorted unique fingerprint array + binary-search probe), which is
* bit-for-bit identical in accept/reject behavior to the reference for the
  same (q, r, hash) — reference test FP counts (2264/2273 for q=16, r=4 on
  series 1..100000 % 2, ``test/sql/bitfilters.test``) reproduce exactly;
* mergeable (set union) and deletable (set difference), preserving the
  quotient filter's signature capabilities that XOR/fuse filters lack;
* probe-vectorizable (``np.searchsorted`` over the whole Arrow batch).

Blob layout (little-endian)::

    b"QF01" | q:u8 | r:u8 | count:u64 | sorted fingerprints: count * u64
"""

from __future__ import annotations

import numpy as np

_MAGIC = b"QF01"


def qf_fingerprints(hashes: np.ndarray, q: int, r: int) -> np.ndarray:
    if not (0 < q <= 56 and 0 < r <= 56 and q + r <= 64):
        raise ValueError("require 0 < q, r and q + r <= 64")
    mask = np.uint64((1 << (q + r)) - 1) if q + r < 64 else np.uint64(0xFFFFFFFFFFFFFFFF)
    return hashes.astype(np.uint64) & mask


def qf_serialize(q: int, r: int, fps: np.ndarray) -> bytes:
    """Blob of a sorted, distinct fingerprint array."""
    head = _MAGIC + bytes([q, r]) + np.uint64(len(fps)).tobytes()
    return head + fps.astype("<u8").tobytes()


def qf_build(hashes: np.ndarray, q: int, r: int) -> bytes:
    return qf_serialize(q, r, np.unique(qf_fingerprints(hashes, q, r)))


def qf_deserialize(blob: bytes):
    if blob[:4] != _MAGIC:
        raise ValueError("not a QF01 blob")
    q, r = blob[4], blob[5]
    count = int(np.frombuffer(blob[6:14], dtype="<u8")[0])
    fps = np.frombuffer(blob[14 : 14 + 8 * count], dtype="<u8")
    return int(q), int(r), fps


def qf_probe(blob: bytes, hashes: np.ndarray) -> np.ndarray:
    q, r, fps = qf_deserialize(blob)
    if not len(hashes) or not len(fps):
        # empty filter (e.g. everything deleted) contains nothing
        return np.zeros(len(hashes), dtype=bool)
    want = qf_fingerprints(hashes, q, r)
    idx = np.searchsorted(fps, want)
    idx_c = np.minimum(idx, len(fps) - 1)
    return fps[idx_c] == want


def qf_merge(blobs: list) -> bytes:
    q = r = None
    parts = []
    for b in blobs:
        qi, ri, fps = qf_deserialize(bytes(b))
        if q is None:
            q, r = qi, ri
        elif (qi, ri) != (q, r):
            raise ValueError("cannot merge quotient filters with different (q, r)")
        parts.append(fps)
    if q is None:
        raise ValueError("no filters to merge")
    return qf_serialize(q, r, np.unique(np.concatenate(parts)))


def qf_resize(blob: bytes, new_q: int, new_r: int | None = None) -> bytes:
    """Resize (the reference lists "resizable" among quotient-filter
    characteristics, docs/README.md §Quotient Filters; vendor
    ``quotient-filter/quotient_filter.hpp`` grows by doubling the slot
    table). Growing moves one bit from every remainder into the quotient
    (q+1, r-1): the stored fingerprint — the low q+r hash bits — is
    INVARIANT under that move, so in this encoding growth rewrites the
    header only and membership is bit-identical to rebuilding at
    (q+1, r-1) over the same keys. Shrinking the total width
    (new_q + new_r < q + r) truncates every fingerprint to the new width
    (drops high remainder bits) and dedupes — again exactly what a
    rebuild at the smaller width stores. Growing the total width is
    impossible from a filter alone (the discarded hash bits are gone);
    rebuild from the keys instead."""
    q, r, fps = qf_deserialize(blob)
    if new_r is None:
        new_r = q + r - new_q
    if not (0 < new_q <= 56 and 0 < new_r <= 56 and new_q + new_r <= 64):
        raise ValueError("require 0 < new_q, new_r and new_q + new_r <= 64")
    if new_q + new_r > q + r:
        raise ValueError(
            f"cannot widen fingerprints ({q}+{r} -> {new_q}+{new_r}): "
            "the truncated hash bits are unrecoverable; rebuild from keys"
        )
    if new_q + new_r < q + r:
        mask = np.uint64((1 << (new_q + new_r)) - 1)
        fps = np.unique(fps & mask)
    return qf_serialize(new_q, new_r, fps)


def qf_remove(blob: bytes, hashes: np.ndarray) -> bytes:
    """Delete support (quotient filters' distinguishing capability)."""
    q, r, fps = qf_deserialize(blob)
    gone = np.unique(qf_fingerprints(hashes, q, r))
    return qf_serialize(q, r, fps[~np.isin(fps, gone)])
