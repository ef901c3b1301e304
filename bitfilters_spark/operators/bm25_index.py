"""Persisted BM25 inverted index: rank incoming query sets against a
reference corpus WITHOUT rescanning it — the retrieval twin of the
persisted LSH near-dup index (`neardup_index.py`).

`text.bm25_scores` re-derives tf / doc lengths / df on every call —
correct, but at 100 TB the corpus side dominates and rarely changes
between query batches. This module splits that cost:

* :func:`build_bm25_index` — one-time corpus scan persisting a BUCKETED,
  token-sorted postings table ``<name>_postings`` (token, id, tf, dl —
  the doc length is DENORMALIZED into the posting row, the classic
  norm-in-postings layout, so query time needs no doc-length join), a
  vocabulary table ``<name>_vocab`` holding ADDITIVE (token, df) partial
  counts, and an ADDITIVE ``<name>_stats`` (n_docs, sum_dl) — both sum
  at probe time, which is what makes :func:`append_to_bm25_index`
  incremental. Bucketing + in-bucket token sort pre-pay the probe-time
  work: a query's postings live in known buckets, in sorted runs parquet
  min/max stats prune to. The build publishes through
  `sources/index_store.py`: a failed rebuild leaves the previous index
  fully queryable.
* :func:`append_to_bm25_index` — fold NEW documents in at cost ∝ the new
  data (the `append_to_lsh_index` maintenance pattern): postings append
  into the bucketed layout, vocab/stats append partial rows. The indexed
  corpus is never rescanned.
* :func:`bm25_query_index` — scores a query set against the index: the
  tiny query-term set is BROADCAST and pushed into the postings scan as
  an ``In`` filter (map-side; non-matching postings never leave the
  scan), df rides a broadcast join of the (query-term-filtered, then
  partial-summed) vocabulary, and the per-(query, doc) sum
  map-side-combines. Cost ∝ postings of the query terms, never ∝ corpus
  size.

Composition laws (pytest, tests/test_signals.py): ``bm25_query_index``
over a built index returns EXACTLY ``bm25_scores`` on the same corpus,
and probing after ``append_to_bm25_index`` returns EXACTLY probing a
from-scratch rebuild over the union — both paths share
:func:`text.bm25_contribution` and integer-exact (tf, df, dl, n_docs,
sum_dl) inputs, so the float operation order is identical and the
equalities are bit-exact, not approximate.

Single-writer contract (same as the LSH index): appends are plain
parquet-table appends with no transaction log — serialize appends when
probe results must reflect a consistent index version. Appended ids are
assumed NEW documents (re-appending an indexed id would double-count its
postings, like re-appending to the LSH index duplicates its band rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import index_store
from ..sources.index_store import Table
from .text import bm25_contribution, tokens

_LAYOUT = (Table("postings", "token", sort=True), Table("vocab", "token"), Table("stats"))


def _corpus_tables(
    df: DataFrame, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(postings, vocab-partial, stats-partial) DataFrames for a corpus
    slice — shared by build and append so both produce identical rows."""
    postings = (
        df.select(
            F.col(id_col).alias("id"),
            F.size(tokens(text_col)).cast("long").alias("dl"),
            F.explode(tokens(text_col)).alias("token"),
        )
        .groupBy("token", "id", "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
        .select("token", "id", "tf", "dl")
    )
    vocab = postings.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    stats = df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(
            F.sum(F.size(tokens(text_col)).cast("long")), F.lit(0).cast("long")
        ).alias("sum_dl"),
    )
    return postings, vocab, stats


def build_bm25_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    name: str,
    num_buckets: int = 32,
    path: str | None = None,
) -> dict:
    """Build and persist the index; returns ``{"n_docs": float, "avgdl":
    float}``. ``path`` makes the tables EXTERNAL (data under ``path``,
    bucket metadata in the catalog).

    Atomicity: the three tables are published through
    :func:`index_store.publish` — the old index stays live until every
    write succeeds, and the final swap is metadata-only."""
    spark = df.sparkSession
    index_store.publish(
        spark, name, _LAYOUT,
        _corpus_tables(df, id_col, text_col), {"num_buckets": num_buckets}, path,
    )
    row = spark.table(f"{name}_stats").collect()[0]
    n_docs = float(row["n_docs"])
    avgdl = row["sum_dl"] / n_docs if n_docs else 1.0
    return {"n_docs": n_docs, "avgdl": avgdl}


def compact_bm25_index(
    spark: SparkSession, name: str, path: str | None = None
) -> dict:
    """Rewrite the index in place: postings re-bucket into one file-set,
    the ADDITIVE vocab/stats partial rows (one per build/append — a
    month of streaming micro-batches leaves thousands) fold into one row
    each. Probe results are identical before/after — postings carry the
    same rows, and the probe was already summing the partials it now
    finds pre-summed. Published like a build: a crash mid-compact
    leaves the live index untouched and fully queryable.

    ``path`` must be passed (the same value) for indexes built external;
    geometry is read from the stored table properties. Returns
    ``{"files_before": n, "files_after": n}`` for the postings table —
    the compaction's reason to exist (probe plans degrade with file
    count even though answers stay exact)."""
    return index_store.compact(
        spark,
        name,
        _LAYOUT,
        path,
        folds={
            "vocab": lambda t: t.groupBy("token").agg(F.sum("df").alias("df")),
            "stats": lambda t: t.agg(
                F.coalesce(F.sum("n_docs"), F.lit(0).cast("long")).alias("n_docs"),
                F.coalesce(F.sum("sum_dl"), F.lit(0).cast("long")).alias("sum_dl"),
            ),
        },
    )


def append_to_bm25_index(
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    name: str,
    num_buckets: int = 32,
) -> None:
    """Fold NEW documents into the index at cost ∝ the new data: postings
    append into the bucketed layout (Spark routes appended rows to their
    buckets, probe-time plans unchanged), vocab df and (n_docs, sum_dl)
    append as partial rows the probe sums — all three statistics are
    additive, so append-then-probe ≡ rebuild-then-probe bit-exactly
    (tested). The indexed corpus is never rescanned."""
    spark = new_df.sparkSession
    index_store.check_geometry(
        spark, name, _LAYOUT, {"num_buckets": num_buckets}, "BM25"
    )
    index_store.append(
        spark, name, _LAYOUT, _corpus_tables(new_df, id_col, text_col), num_buckets
    )


def bm25_index_stats(spark: SparkSession, name: str) -> dict:
    """Live ``{"n_docs": float, "avgdl": float}`` from the additive stats
    partials (one row per build/append)."""
    index_store.refresh(spark, name, _LAYOUT)
    row = (
        spark.table(f"{name}_stats")
        .agg(F.sum("n_docs").alias("n"), F.sum("sum_dl").alias("s"))
        .collect()[0]
    )
    n_docs = float(row["n"] or 0)
    return {"n_docs": n_docs, "avgdl": row["s"] / n_docs if n_docs else 1.0}


class BM25Probe:
    """Session-cached probe handle for the operator's own design point —
    build once, probe MANY query batches. ``bm25_query_index`` pays a
    catalog refresh of all three tables plus a stats-aggregation job on
    EVERY call; a probe loop should pay them once. The handle pins the
    (n_docs, avgdl) snapshot at construction — after an append (or
    another session's streaming fold), construct a new handle (or call
    :meth:`refresh`) to see it; probes through a stale handle score
    against the pinned statistics, the standard read-snapshot trade."""

    def __init__(
        self,
        spark: SparkSession,
        name: str,
        k1: float = 1.2,
        b: float = 0.75,
    ):
        self.spark = spark
        self.name = index_store.check_name(name)
        self.k1, self.b = k1, b
        self.refresh()

    def refresh(self) -> "BM25Probe":
        st = bm25_index_stats(self.spark, self.name)  # refreshes tables too
        self.n_docs, self.avgdl = st["n_docs"], st["avgdl"]
        return self

    def query(
        self,
        queries: DataFrame,
        query_id_col: str = "query_id",
        query_text_col: str = "query",
        max_queries: int = 100_000,
    ) -> DataFrame:
        """(query_id, id, score) for every (query, doc) pair sharing a
        term — identical rows to ``bm25_scores`` on the indexed corpus."""
        spark, name = self.spark, self.name
        # collect the (query_id, token) pairs ONCE and derive BOTH the
        # literal In-filter term list and the broadcast join side from
        # the same collected result — a nondeterministic queries plan
        # (sample, limit, uncached shuffle) can then never disagree
        # between the two uses; queries are small by contract, so this
        # is metadata-scale. max_queries turns a contract violation (a
        # corpus-sized "query" set) into an error instead of a silent
        # driver OOM (the streaming/asof.py max_right_rows pattern).
        qtok_plan = queries.select(
            F.col(query_id_col), F.explode(tokens(query_text_col)).alias("token")
        ).distinct()
        qrows = qtok_plan.limit(max_queries + 1).collect()
        if len(qrows) > max_queries:
            raise ValueError(
                f"bm25_query_index collected more than max_queries="
                f"{max_queries} (query_id, token) rows; the query set is "
                "driver-collected by contract — batch it, or raise "
                "max_queries consciously."
            )
        terms = sorted({r["token"] for r in qrows})
        qtok = spark.createDataFrame(
            [(r[query_id_col], r["token"]) for r in qrows], qtok_plan.schema
        )
        # the literal term list pushes into the postings scan as a
        # parquet In-filter (a broadcast join alone cannot prune the
        # scan); df sums the vocab partials AFTER the same term filter,
        # so the aggregation is query-term-sized
        postings = spark.table(f"{name}_postings").where(
            F.col("token").isin(terms)
        )
        vocab = (
            spark.table(f"{name}_vocab")
            .where(F.col("token").isin(terms))
            .groupBy("token")
            .agg(F.sum("df").alias("df"))
        )
        hits = postings.join(F.broadcast(qtok), "token").join(
            F.broadcast(vocab), "token"
        )
        contrib = bm25_contribution(self.n_docs, self.avgdl, self.k1, self.b)
        return hits.groupBy(query_id_col, "id").agg(
            F.round(F.sum(contrib), 6).alias("score")
        )


def bm25_query_index(
    spark: SparkSession,
    name: str,
    queries: DataFrame,
    query_id_col: str = "query_id",
    query_text_col: str = "query",
    k1: float = 1.2,
    b: float = 0.75,
    max_queries: int = 100_000,
) -> DataFrame:
    """One-shot form of :class:`BM25Probe` (fresh refresh + stats every
    call — correct for occasional probes; loops should hold a handle)."""
    return BM25Probe(spark, name, k1, b).query(
        queries, query_id_col, query_text_col, max_queries
    )
