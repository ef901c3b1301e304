"""The JVM duckdb_bloom path: ``build_filter(kind="duckdb_bloom")`` as a
Catalyst ``bit_or`` aggregate and the global ``probe_filter`` as a
broadcast join must match the numpy kernels in ``core.bloom`` byte for
byte and row for row.

Whole-stage codegen is pinned on here: the suite runs with it off, and
the sector/mask expressions must be checked compiled, as production
sessions run them."""

import numpy as np
import pytest

from bitfilters_spark.core import bloom as B
from bitfilters_spark.functions.filters import build_filter, probe_filter


@pytest.fixture()
def codegen(spark):
    old = spark.conf.get("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.wholeStage", "true")
    yield spark
    spark.conf.set("spark.sql.codegen.wholeStage", old)


def _hashes(n, seed):
    rng = np.random.default_rng(seed)
    # full i64 range, so half the hashes are negative, plus both extremes
    h = rng.integers(-(2**63), 2**63 - 1, n, dtype=np.int64, endpoint=True)
    h[:2] = [-(2**63), 2**63 - 1]
    return h


def _want(hashes, num_sectors):
    return B.duckdb_bloom_serialize(
        B.duckdb_bloom_build(hashes.view(np.uint64), num_sectors)
    )


def test_global_build_is_byte_identical(codegen):
    h = _hashes(3000, 1)
    rows = [(None,)] * 7 + [(int(v),) for v in h]
    df = codegen.createDataFrame(rows, "h long")
    got = build_filter(df, [], "h", "duckdb_bloom", num_sectors=512).collect()
    assert len(got) == 1 and bytes(got[0]["filter"]) == _want(h, 512)


def test_grouped_build_is_byte_identical(codegen):
    """Two-column group keys, groups of one key, and NULL hashes (skipped,
    like DuckDB aggregates skip NULL inputs)."""
    h = _hashes(2000, 2)
    a = np.arange(2000) % 3
    b = np.where(np.arange(2000) < 1990, np.arange(2000) % 2, np.arange(2000))
    rows = [(int(x), int(y), int(v)) for x, y, v in zip(a, b, h)]
    rows += [(0, 0, None), (9, 9, None)]  # group (9, 9) has no hash: no row
    df = codegen.createDataFrame(rows, "a int, b long, h long")
    got = {
        (r["a"], r["b"]): bytes(r["filter"])
        for r in build_filter(df, ["a", "b"], "h", "duckdb_bloom", num_sectors=64).collect()
    }
    want = {}
    for key in sorted(set(zip(a.tolist(), b.tolist()))):
        sel = (a == key[0]) & (b == key[1])
        want[key] = _want(h[sel], 64)
    assert sum(1 for k in want if ((a == k[0]) & (b == k[1])).sum() == 1) == 10
    assert got == want


def test_non_power_of_two_sectors_raise_at_call_time(codegen):
    df = codegen.createDataFrame([(1,)], "h long")
    for bad in (0, -4, 1000):
        with pytest.raises(ValueError, match="power of 2"):
            build_filter(df, [], "h", "duckdb_bloom", num_sectors=bad)


def test_global_probe_matches_kernel(codegen):
    members = _hashes(400, 3)
    blob = _want(members, 128)
    probes = np.concatenate([members, _hashes(5000, 4)])
    rows = [(i, int(v)) for i, v in enumerate(probes)] + [(-1, None)]
    df = codegen.createDataFrame(rows, "i long, h long")
    got = {r["i"]: r["__contains"] for r in probe_filter(df, {(): blob}, "h").collect()}
    assert got.pop(-1) is None  # NULL hash -> NULL
    want = B.duckdb_bloom_probe(blob, probes.view(np.uint64))
    assert [got[i] for i in range(len(probes))] == want.tolist()
    assert all(got[i] for i in range(len(members)))  # no false negatives
    assert 0 < sum(want[len(members):]) < len(probes) - len(members)


def test_global_probe_of_empty_filter_is_all_false(codegen):
    df = codegen.createDataFrame([(0, 5), (1, -7), (2, None)], "i long, h long")
    empty = B.duckdb_bloom_serialize(np.zeros(64, dtype=np.uint64))
    none_built = build_filter(
        codegen.createDataFrame([], "h long"), [], "h", "duckdb_bloom", num_sectors=64
    )
    for filters in ({(): empty}, {}, none_built):
        got = {r["i"]: r["__contains"] for r in probe_filter(df, filters, "h").collect()}
        assert got == {0: False, 1: False, 2: None}
