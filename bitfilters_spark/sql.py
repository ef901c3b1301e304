"""SQL surface: register the row-wise operators as Spark SQL functions.

The reference is a SQL extension — its users write
``SELECT ... WHERE quotient_filter_contains(f, hash(x))`` — so the probe
side of this engine is exposed to ``spark.sql`` too (reference
``docs/README.md`` usage examples). Registered functions:

* ``bf_contains(filter, h)``      — membership, any filter blob format
* ``bf_cms_estimate(filter, h)``  — count-min frequency estimate
* ``bf_kmv_distinct(filter)``     — KMV cardinality estimate
* ``bf_duckdb_hash(x)``           — DuckDB-parity hash (v1.0.0, one key)
* ``bf_filter_kind(filter)``      — blob format sniff
* ``bf_qf_resize(filter, q, r)``  — quotient-filter resize (r may be NULL)
* ``bf_bks_quantile(sample, q)``  — bottom-k sample nearest-rank quantile
* ``bf_bks_size(sample)``         — bottom-k sample kept-row count
* ``bf_cms_join_size(a, b)``      — CMS inner-product join-size bound
* ``bf_hll_distinct(filter)``     — HyperLogLog cardinality estimate
* ``bf_mg_estimate(filter, h)``   — Misra–Gries lower-bound count

The scalar functions are the Arrow UDF objects ``functions/filters.py``
defines, registered under SQL names. Builds stay on the DataFrame API:
Python cannot register SQL AGGREGATE functions (Spark has no Python
UDAF), and the two-phase mergeable build is deliberately a composed
plan, not a black-box aggregate. To close the UX gap with the
reference's ``CREATE TABLE ... AS SELECT
quotient_filter(16, 4, hash(id)) ... GROUP BY`` workflow
(test/sql/bitfilters.test:37-50), :func:`bf_build` runs that build from
SQL strings and registers the result as a temp view — build→probe is
then two lines of user code, both SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_REGISTERED: set = set()


def bf_build(
    spark: SparkSession,
    source: str,
    group_exprs: list,
    kind: str,
    hash_expr: str = None,
    view: str = None,
    **build_kwargs,
) -> DataFrame:
    """SQL-string front door for per-group filter builds — the
    reference's ``CREATE TABLE quotient_filters AS SELECT id % 2 AS
    remainder, quotient_filter(16, 4, hash(id)) AS filter ... GROUP BY``
    (test/sql/bitfilters.test:37-43) as one call::

        bf_build(spark, "series_data", ["id % 2 AS remainder"],
                 "quotient", "xxhash64(id)", view="quotient_filters",
                 q=16, r=4)
        spark.sql("SELECT ... FROM series_data, quotient_filters "
                  "WHERE ... AND bf_contains(filter, xxhash64(id))")

    ``source`` is a table/view name or a full ``SELECT ...`` statement;
    ``group_exprs`` are SQL expressions (aliases allowed; ``[]`` builds
    one global filter); ``hash_expr`` is the SQL expression producing
    the i64 key hash (default ``xxhash64`` of the first group-free
    column is NOT guessed — pass it explicitly). ``kind`` and
    ``build_kwargs`` are exactly :func:`~bitfilters_spark.functions.
    filters.build_filter`'s (quotient/cuckoo/bloom/duckdb_bloom/cms/kmv/
    hll/mg/xor8/xor16/fuse8/fuse16/ribbon8/ribbon16; bottom-k samples
    are built by ``functions/sample.py``, not here). The build itself is
    the same DataFrame plan ``build_filter`` runs — this helper only
    bridges the SQL-string surface Spark's missing Python UDAF would
    otherwise leave closed. Returns the result DataFrame; when ``view``
    is given it is also registered as a temp view under that name."""
    from .functions.filters import build_filter

    if hash_expr is None:
        raise ValueError(
            "pass hash_expr, e.g. 'xxhash64(id)' or 'bf_duckdb_hash(id)'"
        )
    src = source.strip()
    src_sql = src if src.lower().startswith(("select", "with", "(")) else f"SELECT * FROM {src}"
    cols = list(group_exprs) + [f"({hash_expr}) AS __bf_h"]
    proj = spark.sql(f"SELECT {', '.join(cols)} FROM ({src_sql}) AS __bf_src")
    gcols = [c for c in proj.columns if c != "__bf_h"]
    out = build_filter(proj, gcols, "__bf_h", kind, **build_kwargs)
    if view is not None:
        out.createOrReplaceTempView(view)
    return out


def register_sql_functions(spark: SparkSession, prefix: str = "bf_") -> list:
    """Idempotently register the scalar surface; returns the names."""
    key = (id(spark.sparkContext), prefix)
    names = [
        f"{prefix}contains",
        f"{prefix}cms_estimate",
        f"{prefix}kmv_distinct",
        f"{prefix}duckdb_hash",
        f"{prefix}filter_kind",
        f"{prefix}qf_resize",
        f"{prefix}bks_quantile",
        f"{prefix}bks_size",
        f"{prefix}cms_join_size",
        f"{prefix}hll_distinct",
        f"{prefix}mg_estimate",
    ]
    if key in _REGISTERED:
        return names

    import numpy as np
    import pyarrow as pa
    from pyspark.sql.functions import arrow_udf
    from pyspark.sql.types import BinaryType, LongType

    from .functions import filters as FL
    from .core import bksample as BK
    from .core import cms as CM
    from .core import quotient as Q
    from .core import hashing as H

    @arrow_udf(LongType())
    def _dhash(values):
        if isinstance(values, pa.ChunkedArray):
            values = values.combine_chunks()
        mask = np.asarray(values.is_null())
        if pa.types.is_integer(values.type):
            v = values.cast(pa.int64()).fill_null(0).to_numpy().astype(np.int64)
            h = H.hash_int64(v)
        else:
            data = ["" if x is None else str(x) for x in values.to_pylist()]
            h = H.hash_bytes([s.encode() for s in data], "v1.0.0")
        return pa.array(h.view(np.int64), type=pa.int64(), mask=mask)

    @arrow_udf(BinaryType())
    def _qf_resize(blobs, qs, rs):
        if isinstance(blobs, pa.ChunkedArray):
            blobs = blobs.combine_chunks()
        out = []
        for b, qv, rv in zip(blobs.to_pylist(), qs.to_pylist(), rs.to_pylist()):
            out.append(
                None
                if b is None
                else Q.qf_resize(
                    bytes(b), int(qv), None if rv is None else int(rv)
                )
            )
        return pa.array(out, type=pa.binary())

    @arrow_udf(LongType())
    def _bks_quant(blobs, qs):
        if isinstance(blobs, pa.ChunkedArray):
            blobs = blobs.combine_chunks()
        out = []
        for b, qv in zip(blobs.to_pylist(), qs.to_pylist()):
            out.append(
                None
                if b is None or qv is None
                else BK.bks_quantile(bytes(b), float(qv))
            )
        return pa.array(out, type=pa.int64())

    @arrow_udf(LongType())
    def _bks_size(blobs):
        return FL._per_row(lambda b: len(BK.bks_deserialize(b)[2]), pa.int64(), blobs)

    @arrow_udf(LongType())
    def _cms_join(a_blobs, b_blobs):
        if isinstance(a_blobs, pa.ChunkedArray):
            a_blobs = a_blobs.combine_chunks()
        if isinstance(b_blobs, pa.ChunkedArray):
            b_blobs = b_blobs.combine_chunks()
        out = []
        for a, b in zip(a_blobs.to_pylist(), b_blobs.to_pylist()):
            out.append(
                None if a is None or b is None
                else CM.cms_join_size(bytes(a), bytes(b))
            )
        return pa.array(out, type=pa.int64())

    for name, f in zip(names, [
        FL._contains_udf, FL._cms_estimate_udf, FL._kmv_distinct_udf, _dhash,
        FL._kind_udf, _qf_resize, _bks_quant, _bks_size, _cms_join,
        FL._hll_distinct_udf, FL._mg_estimate_udf,
    ]):
        spark.udf.register(name, f)
    _REGISTERED.add(key)
    return names
