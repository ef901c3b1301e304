"""Stream-static join pre-filtered by a membership filter.

The reference documents filters as join pre-filters and cache pre-checks
(``docs/README.md`` §Use cases: "check if an item might be a duplicate /
present before an expensive lookup"). The streaming realization: build the
filter over the STATIC dimension once at query-construction time (it is
constant for the life of the streaming query), broadcast the blob, and
probe every micro-batch map-side so only plausible rows reach the exact
stream-static join.

Scale posture: the probe adds zero shuffle to the stream — it is a
projection. With a selective dimension (the common case: a watch-list,
an allow-list, a small set of entities) the exact join's stream side
shrinks by the filter's selectivity before any join machinery runs. No
false negatives ⇒ the result is identical to the plain stream-static
join, micro-batch by micro-batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.filters import build_filter, probe_filter
from ..functions.hashing import key_hash64


def streaming_filter_join(
    stream: DataFrame,
    dim: DataFrame,
    stream_key: str,
    dim_key: str | None = None,
    kind: str = "bloom",
    **filter_kw,
) -> DataFrame:
    """Bloom-prefiltered stream-static inner join.

    ``build_filter`` runs here, eagerly, on the static side;
    ``probe_filter`` collects + broadcasts the blob at construction, so
    per-micro-batch work is a map-side probe followed by the exact join on
    survivors only. The probe is an Arrow UDF, or for ``duckdb_bloom`` a
    stream-static LEFT join to the broadcast sectors, which keeps the
    stream's rows out of Python. Keys hash with ``key_hash64``, so an int
    stream key matches an equal bigint dim key.
    """
    dim_key = dim_key or stream_key
    filters = build_filter(
        dim.select(key_hash64(dim, dim_key).alias("h")), [], "h", kind, **filter_kw
    )
    hashed = stream.withColumn("__h", key_hash64(stream, stream_key))
    survivors = (
        probe_filter(hashed, filters, "__h")
        .where(F.col("__contains"))
        .drop("__contains", "__h")
    )
    if dim_key == stream_key:
        return survivors.join(dim, on=stream_key)
    return survivors.join(dim, survivors[stream_key] == dim[dim_key])
