"""Persisted POSITIONAL index + exact-phrase search: find every document
containing an exact token phrase without rescanning the corpus — the
eval-set decontamination tool `ngram_contamination` (text.py) approximates
with fixed-n hashed shingles, upgraded to arbitrary-length exact matching
at index speed. (A 13-gram overlap check tells you SOME window collides; a
phrase probe tells you *this benchmark sentence* appears, at which
position, in which documents.)

Layout: one bucketed, token-sorted postings table ``<name>_postings``
(token, id, positions array) — the `bm25_index` layout with the term
positions kept instead of collapsed to tf. Builds, geometry and
compaction go through `sources/index_store.py`, like every index family;
positions are per-document-complete, so appending NEW documents is a
plain bucketed append.

Probe algebra (`phrase_search`): a phrase "a b c" matches doc d at
position p iff p ∈ positions(a,d) ∧ p+1 ∈ positions(b,d) ∧ p+2 ∈
positions(c,d) — i.e. the intersection of each term's positions SHIFTED
LEFT by its offset. The probe broadcasts the (phrase, offset, token) rows,
pushes the distinct query tokens into the postings scan as an ``In``
filter (non-matching postings never leave parquet — cost ∝ the query
terms' postings, never ∝ corpus size), shifts each joined posting's
positions by its offset map-side, and one groupBy per (phrase, doc) folds
``array_intersect`` across the terms. Pure JVM array expressions; no
Python in the row path. Repeated tokens in a phrase ("the cat the") work
naturally — each offset row shifts the same posting differently and the
intersection demands all of them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import index_store
from ..sources.index_store import Table
from .text import tokens

__all__ = [
    "build_phrase_index",
    "append_to_phrase_index",
    "compact_phrase_index",
    "phrase_search",
    "phrase_contains",
]

_LAYOUT = (Table("postings", "token", sort=True),)


def _postings(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(tokens(text_col)).alias("pos", "token"),
        )
        .groupBy("token", "id")
        .agg(F.array_sort(F.collect_list("pos")).alias("positions"))
    )


def build_phrase_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    name: str,
    num_buckets: int = 32,
    path: str | None = None,
) -> None:
    """One-time corpus scan persisting the positional postings table,
    published through :func:`index_store.publish` (a failed rebuild
    leaves the previous index queryable)."""
    index_store.publish(
        df.sparkSession, name, _LAYOUT, [_postings(df, id_col, text_col)],
        {"num_buckets": num_buckets}, path,
    )


def append_to_phrase_index(
    df: DataFrame, id_col: str, text_col: str, name: str, num_buckets: int = 32
) -> None:
    """Fold NEW documents in at cost ∝ the new data (ids must be new —
    re-appending an indexed id would duplicate its postings, the
    `bm25_index`/`neardup_index` single-writer contract)."""
    spark = df.sparkSession
    index_store.check_geometry(
        spark, name, _LAYOUT, {"num_buckets": num_buckets}, "phrase"
    )
    index_store.append(
        spark, name, _LAYOUT, [_postings(df, id_col, text_col)], num_buckets
    )


def phrase_search(
    spark: SparkSession,
    name: str,
    phrases: DataFrame,
    phrase_col: str = "phrase",
    id_col: str = "phrase_id",
    max_queries: int = 100_000,
) -> DataFrame:
    """(phrase_id, id, n_matches, first_pos) — every indexed document
    containing each phrase as an EXACT consecutive token sequence, with
    the match count and the first start position. One-token phrases
    match wherever their token occurs; empty/whitespace-only phrases
    are DROPPED (tokens('') is [''] under the corpus single-space
    split, which would otherwise probe the empty-string token that
    multi-space documents legitimately index). Positions index the
    single-space split — runs of spaces are significant, identically on
    the index and scan sides.

    The phrase set is query-scale by contract: it is collected ONCE to
    the driver (fail-fast over ``max_queries``, the `bm25_query_index`
    guard) to derive both the literal ``In`` pushdown and the broadcast
    term rows from the same result."""
    index_store.refresh(spark, name, _LAYOUT)
    # the caller's phrase_id type is preserved end-to-end (matching the
    # documented same-output contract of `phrase_contains`)
    pid_t = phrases.schema[id_col].dataType.simpleString()
    qrows = (
        phrases.where(F.trim(F.col(phrase_col)) != "")
        .select(
            F.col(id_col).alias("phrase_id"),
            F.posexplode(tokens(phrase_col)).alias("off", "token"),
        )
        # limit BEFORE collect so the guard fires before the driver
        # materializes an unbounded set (the bm25_query_index pattern)
        .limit(max_queries + 1)
        .collect()
    )
    if len(qrows) > max_queries:
        raise ValueError(
            f"phrase_search collected over max_queries={max_queries} "
            f"(phrase, term) rows; batch the probe"
        )
    if not qrows:
        # empty result typed from the ACTUAL index id column, not a
        # hardcoded long (indexes over string ids must union cleanly)
        id_t = spark.table(f"{name}_postings").schema["id"].dataType.simpleString()
        return spark.createDataFrame(
            [], f"phrase_id {pid_t}, id {id_t}, n_matches long, first_pos int"
        )
    terms = sorted({r["token"] for r in qrows})
    n_terms = {}
    for r in qrows:
        n_terms[r["phrase_id"]] = max(
            n_terms.get(r["phrase_id"], 0), r["off"] + 1
        )
    qdf = spark.createDataFrame(
        [(r["phrase_id"], r["off"], r["token"]) for r in qrows],
        f"phrase_id {pid_t}, off int, token string",
    )
    post = spark.table(f"{name}_postings").where(F.col("token").isin(terms))
    hits = post.join(F.broadcast(qdf), "token").select(
        "phrase_id",
        "id",
        "off",
        F.transform("positions", lambda p: p - F.col("off")).alias("shifted"),
    )
    ndf = spark.createDataFrame(
        list(n_terms.items()), f"phrase_id {pid_t}, n_terms int"
    )
    per_doc = (
        hits.groupBy("phrase_id", "id")
        .agg(
            F.count_distinct("off").alias("n_offs"),
            # fold array_intersect across the term rows; seed with the
            # first shifted array (aggregate needs a zero — use the
            # row set itself via collect + slice)
            F.aggregate(
                F.slice(
                    F.collect_list("shifted"),
                    2,
                    F.greatest(F.count(F.lit(1)).cast("int") - 1, F.lit(0)),
                ),
                F.element_at(F.collect_list("shifted"), 1),
                lambda acc, a: F.array_intersect(acc, a),
            ).alias("starts"),
        )
        .join(F.broadcast(ndf), "phrase_id")
        .where(
            (F.col("n_offs") == F.col("n_terms")) & (F.size("starts") > 0)
        )
    )
    return per_doc.select(
        "phrase_id",
        "id",
        F.size("starts").cast("long").alias("n_matches"),
        F.array_min("starts").alias("first_pos"),
    )


def phrase_contains(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    phrases: DataFrame,
    phrase_col: str = "phrase",
    phrase_id_col: str = "phrase_id",
) -> DataFrame:
    """Index-free exact-phrase scan (the brute-force twin of
    :func:`phrase_search`, same output): tokenizes every document per
    call — right for one-off checks, wrong for probe-many workloads.
    Also the equivalence oracle the pytests pin `phrase_search`
    against."""
    toks = corpus.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("ts")
    )
    q = phrases.where(F.trim(F.col(phrase_col)) != "").select(
        F.col(phrase_id_col).alias("phrase_id"),
        tokens(phrase_col).alias("qs"),
    ).where(F.size("qs") > 0)
    joined = toks.crossJoin(F.broadcast(q))
    # sequence(0, k) DESCENDS for k < 0 — guard the too-short-doc case
    # to an empty candidate list instead
    cand = F.when(
        F.size("ts") >= F.size("qs"),
        F.sequence(F.lit(0), F.size("ts") - F.size("qs")),
    ).otherwise(F.array().cast("array<int>"))
    starts = F.filter(
        cand,
        lambda s: F.forall(
            F.sequence(F.lit(0), F.size("qs") - 1),
            lambda i: F.element_at(F.col("ts"), (s + i + 1).cast("int"))
            == F.element_at(F.col("qs"), (i + 1).cast("int")),
        ),
    )
    out = joined.select(
        "phrase_id", "id", starts.alias("starts")
    ).where(F.size("starts") > 0)
    return out.select(
        "phrase_id",
        "id",
        F.size("starts").cast("long").alias("n_matches"),
        F.array_min("starts").alias("first_pos"),
    )


def compact_phrase_index(
    spark: SparkSession, name: str, path: str | None = None
) -> dict:
    """Rewrite the postings into one file-set per bucket (appends and
    streaming folds add a file-set each — probe answers stay exact but
    plans degrade with file count). Published like a build; probe
    results identical before/after. Returns {"files_before": n,
    "files_after": n}."""
    return index_store.compact(spark, name, _LAYOUT, path)
