"""Text-analysis operators for training-data pipelines.

All hot-path expressions are pure ``pyspark.sql.functions`` / higher-order
functions (JVM whole-stage codegen; no Python in the row loop), so they
scale to 100 TB document tables with zero UDF overhead.  Only document
fingerprinting offers a DuckDB-parity variant (Arrow UDF) for cross-engine
reproducibility; the native variant is xxhash64.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import duckdb_hash, spark_hash64

# Minimal stopword lists for the n-gram/stopword language heuristic.
STOPWORDS = {
    "en": ["the", "of", "and", "to", "in", "is", "that", "it", "for", "was"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "von", "zu"],
    "fr": ["le", "la", "et", "les", "des", "est", "pas", "une", "dans", "que"],
    "es": ["el", "la", "de", "que", "y", "los", "es", "en", "un", "por"],
}


def tokens(col) -> Column:
    """Whitespace tokens (documents are single-space separated)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, " ")


def token_count(col) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col) -> Column:
    """BPE-ish upper bound: word-piece regex (letters / digits / punct runs)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0))


def word_shingles(col, n: int = 3) -> Column:
    """Array of n-word shingles (JVM higher-order fns, no UDF).

    The token array is bound to a lambda variable (via a 1-element array
    wrapper) so it is evaluated ONCE per row: referencing ``split(...)``
    directly inside the transform would re-split the whole text for every
    ``element_at`` of every shingle position — O(tokens^2) per document
    (measured 22s -> 1s on 5k docs)."""
    def shingles_of(arr: Column) -> Column:
        idx = F.sequence(F.lit(1), F.size(arr) - (n - 1))
        made = F.transform(idx, lambda i: F.concat_ws(" ", *[
            F.element_at(arr, i + j) for j in range(n)
        ]))
        # guard: sequence(1, k) DESCENDS for k < 1, which would fabricate
        # shingles for documents shorter than n tokens
        return F.when(F.size(arr) >= n, made).otherwise(
            F.array().cast("array<string>")
        )

    return F.element_at(F.transform(F.array(tokens(col)), shingles_of), 1)


def hashed_word_shingles(col, n: int = 3) -> Column:
    """Array of 64-bit shingle hashes WITHOUT building shingle strings:
    each token is hashed once, then n consecutive token-hashes combine via
    a variadic ``xxhash64`` — ~2× faster than hashing concatenated strings
    (measured on the explode stage). Both intermediate arrays are bound to
    lambda variables (1-element-array wrapper) so neither the token split
    nor the token-hash array re-evaluates per shingle position."""
    empty = F.array().cast("array<long>")

    def of(arr: Column) -> Column:
        th = F.transform(arr, lambda t: F.xxhash64(t))

        def of2(tharr: Column) -> Column:
            idx = F.sequence(F.lit(1), F.size(tharr) - (n - 1))
            made = F.transform(
                idx,
                lambda i: F.xxhash64(*[F.element_at(tharr, i + j) for j in range(n)]),
            )
            # guard: sequence(1, k) DESCENDS for k < 1
            return F.when(F.size(tharr) >= n, made).otherwise(empty)

        return F.element_at(F.transform(F.array(th), of2), 1)

    return F.element_at(F.transform(F.array(tokens(col)), of), 1)


def stopword_hits(col, lang: str) -> Column:
    """Number of token occurrences that are stopwords of ``lang``.

    Built from ``F.filter`` + ``Column.isin`` (no string-formatted SQL), so
    it accepts Column arguments and arbitrary column names."""
    words = STOPWORDS[lang]
    return F.size(F.filter(tokens(col), lambda t: t.isin(*words)))


def nonascii_ratio(col) -> Column:
    # greatest(len, 1): an empty document is 0-ratio, not an ANSI
    # divide-by-zero that kills the whole scan
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.length(c) - F.length(F.regexp_replace(c, r"[^\x00-\x7F]", ""))
    ) / F.greatest(F.length(c), F.lit(1))


def langid(text_col: str) -> Column:
    """Heuristic language ID: CJK via non-ASCII ratio, else argmax of
    stopword-hit counts with deterministic preference order, 'en'
    fallback.

    This is the EXPRESSION form (composable inside any select/agg). Its
    stopword counts run through ``F.filter`` lambdas, which Spark
    evaluates interpreted (higher-order functions skip codegen) — fine
    inside a wider aggregate, but for a plain per-document scan
    :func:`langid_table` computes identical labels ~4-5x faster by
    keeping every comparison inside WholeStageCodegen."""
    hits = {lg: stopword_hits(text_col, lg) for lg in STOPWORDS}
    best = F.lit("en")
    best_n = hits["en"]
    for lg in ("de", "fr", "es"):  # fixed order => deterministic ties
        best = F.when(hits[lg] > best_n, F.lit(lg)).otherwise(best)
        best_n = F.when(hits[lg] > best_n, hits[lg]).otherwise(best_n)
    return F.when(nonascii_ratio(text_col) > 0.3, F.lit("zh")).otherwise(best)


def langid_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    out_col: str = "lang",
) -> DataFrame:
    """Per-document language ID at scan throughput — label-identical to
    :func:`langid` (same stopword occurrence counts, same tie order,
    same CJK rule), restructured for codegen: explode tokens once,
    count stopword hits per language with ``isin`` on a REGULAR column
    (compiles to an O(1) InSet inside WholeStageCodegen, where the
    expression form's higher-order lambdas run interpreted), regroup
    per doc — the one shuffle carries (id, 4 ints), and the hit
    columns ride along for free. Measured 4.6x faster at 50k docs.
    Returns ``df`` plus ``out_col`` and ``sw_<lang>`` count columns."""
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("__tk"))
    counts = tok.groupBy(id_col).agg(
        *[
            F.count(F.when(F.col("__tk").isin(*STOPWORDS[lg]), 1)).alias(
                f"sw_{lg}"
            )
            for lg in STOPWORDS
        ]
    )
    best = F.lit("en")
    best_n = F.col("sw_en")
    for lg in ("de", "fr", "es"):
        best = F.when(F.col(f"sw_{lg}") > best_n, F.lit(lg)).otherwise(best)
        best_n = F.when(F.col(f"sw_{lg}") > best_n, F.col(f"sw_{lg}")).otherwise(
            best_n
        )
    sw_cols = [f"sw_{lg}" for lg in STOPWORDS]
    return (
        df.join(counts, id_col, "left")
        .select(
            *df.columns,
            *[F.coalesce(c, F.lit(0)).alias(c) for c in sw_cols],
        )
        .withColumn(
            out_col,
            F.when(nonascii_ratio(text_col) > 0.3, F.lit("zh")).otherwise(best),
        )
    )


def quality_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic quality features + composite score (all JVM exprs)."""
    t = tokens(text_col)
    n_tok = F.size(t)
    n_uniq = F.size(F.array_distinct(t))
    c = F.col(text_col)
    n_chars = F.length(c)
    punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    digits = F.length(c) - F.length(F.regexp_replace(c, r"[0-9]", ""))
    ttr = n_uniq.cast("double") / n_tok
    avg_tok = (n_chars - n_tok + 1).cast("double") / n_tok
    score = (
        F.least(n_tok.cast("double") / 64.0, F.lit(1.0)) * 0.4
        + ttr * 0.4
        + (F.lit(1.0) - punct.cast("double") / n_chars) * 0.1
        + (F.lit(1.0) - digits.cast("double") / n_chars) * 0.1
    )
    metric_names = (
        "n_chars", "n_tokens", "n_uniq_tokens", "ttr", "avg_token_len", "quality_score",
    )
    # the source table may already carry same-named columns (documents has
    # n_chars); drop them first so the computed metrics never collide
    base = df.drop(*[c for c in metric_names if c in df.columns])
    return base.select(
        "*",
        n_chars.alias("n_chars"),
        n_tok.alias("n_tokens"),
        n_uniq.alias("n_uniq_tokens"),
        F.round(ttr, 6).alias("ttr"),
        F.round(avg_tok, 6).alias("avg_token_len"),
        F.round(score, 6).alias("quality_score"),
    )


def repetition_metrics(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Repetition features (the Gopher-style 'repetitive document' signals):

    * ``top_bigram_frac`` — share of bigram occurrences taken by the single
      most frequent bigram (boilerplate/babble detector),
    * ``dup_trigram_frac`` — fraction of trigram occurrences that are
      repeats of an earlier trigram.

    ZERO shuffle (r8): both signals are per-document, so nothing should
    leave the map stage. The top-bigram count — previously an explode
    plus two hash-partitioned aggregations — is the longest equal-run in
    the SORTED bigram array (max multiplicity == max run length), a pure
    JVM ``array_sort`` + ``aggregate`` fold per row; distinct-counting
    was already array arithmetic. At corpus scale this deletes two
    Exchanges and a join from the plan, and is exact on the bigram
    STRINGS (the old hashed-groupBy path could in principle merge two
    bigrams on an xxhash64 collision).
    """
    bigrams = word_shingles(text_col, 2)
    trigrams = word_shingles(text_col, 3)

    def max_run(arr):
        first = F.lit(None).cast("string")
        return F.aggregate(
            F.array_sort(arr),
            F.struct(
                first.alias("prev"),
                F.lit(0).alias("run"),
                F.lit(0).alias("best"),
            ),
            lambda acc, x: F.struct(
                x.alias("prev"),
                F.when(x == acc["prev"], acc["run"] + 1)
                .otherwise(F.lit(1))
                .alias("run"),
                F.greatest(
                    acc["best"],
                    F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
                ).alias("best"),
            ),
            lambda acc: acc["best"],
        )

    return df.select(
        F.col(id_col),
        F.size(bigrams).alias("n_bigrams"),
        F.size(trigrams).alias("n_trigrams"),
        F.size(F.array_distinct(trigrams)).alias("n_uniq_trigrams"),
        max_run(bigrams).alias("top_bigram_n"),
    ).select(
        id_col,
        "n_bigrams",
        F.round(
            F.col("top_bigram_n").cast("double") / F.greatest("n_bigrams", F.lit(1)),
            6,
        ).alias("top_bigram_frac"),
        F.round(
            (F.col("n_trigrams") - F.col("n_uniq_trigrams")).cast("double")
            / F.greatest("n_trigrams", F.lit(1)),
            6,
        ).alias("dup_trigram_frac"),
    )


# intentionally simple patterns with identical semantics in Java regex
# (Spark) and RE2 (DuckDB) — no lookaround, no backreferences
EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+"
PHONE_RE = r"[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]"


def pii_metrics(col) -> list:
    """(n_emails, n_phones) occurrence counts — cheap JVM regexp scans."""
    c = F.col(col) if isinstance(col, str) else col
    return [
        F.size(F.regexp_extract_all(c, F.lit(EMAIL_RE), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all(c, F.lit(PHONE_RE), F.lit(0))).alias("n_phones"),
    ]


def redact_pii(col) -> Column:
    """Replace email/phone matches with typed placeholders. Email first so a
    phone-like digit run inside an address is already gone."""
    c = F.col(col) if isinstance(col, str) else col
    r = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(r, PHONE_RE, "<PHONE>")


def pii_scan(col) -> list:
    """(n_emails, n_phones, redacted) — same values as
    ``pii_metrics + redact_pii`` but from at most 3 regex scans instead
    of 4, each behind a substring pre-gate:

    - the email scan is a single ``split`` whose parts yield BOTH the
      count (len-1) and the redaction (join on the placeholder) —
      ``Pattern.split`` finds exactly the non-overlapping matches
      ``replaceAll`` does, so the fusion is identity-exact;
    - phones count on the ORIGINAL text (a digit run inside an email is
      still a phone occurrence — oracle semantics) while the replace
      runs over the email-redacted string, as in :func:`redact_pii`;
    - ``contains('@')`` / ``contains('-')`` pre-gates skip the regex
      machinery entirely on rows that cannot match (every EMAIL_RE match
      contains '@', every PHONE_RE match contains '-')."""
    c = F.col(col) if isinstance(col, str) else col
    eparts = F.split(c, EMAIL_RE, -1)
    has_at = c.contains("@")
    has_dash = c.contains("-")
    n_emails = (
        F.when(has_at, F.size(eparts) - 1)
        .when(c.isNotNull(), F.lit(0))
        .otherwise(F.lit(None).cast("int"))
    )
    e_red = F.when(has_at, F.array_join(eparts, "<EMAIL>")).otherwise(c)
    n_phones = (
        F.when(
            has_dash,
            F.size(F.regexp_extract_all(c, F.lit(PHONE_RE), F.lit(0))),
        )
        .when(c.isNotNull(), F.lit(0))
        .otherwise(F.lit(None).cast("int"))
    )
    redacted = F.when(
        has_dash, F.regexp_replace(e_red, PHONE_RE, "<PHONE>")
    ).otherwise(e_red)
    return [
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        redacted.alias("redacted"),
    ]


def tfidf(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    min_df: int = 1,
) -> DataFrame:
    """(id, token, tf, df, tfidf) — classic ln-smoothed TF-IDF.

    tf = in-doc count, idf = ln(N / df). Two aggregations: per-(doc, token)
    counts and the per-token document frequency; the df side is vocabulary-
    sized, so Spark broadcasts it into the join and the corpus shuffles
    once (on the doc id through explode/groupBy).
    """
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("token"))
    tf_df = tok.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    docfreq = (
        tok.select(id_col, "token")
        .distinct()
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= min_df)
    )
    n_docs = df.select(id_col).distinct().count()
    return tf_df.join(F.broadcast(docfreq), "token").select(
        id_col,
        "token",
        "tf",
        "df",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6).alias(
            "tfidf"
        ),
    )


def bm25_scores(
    df: DataFrame,
    queries: DataFrame,
    id_col: str,
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """(query_id, doc id, score) — Okapi BM25 relevance of every document
    against a SMALL query set (Robertson & Zaragoza 2009): the standard
    targeted data-selection primitive ("rank the corpus by similarity to
    my eval/benchmark set, keep/inspect the head" — the retrieval-based
    counterpart of DSIR's importance weights).

        score(q, d) = Σ_{t ∈ q} idf(t) · tf(t,d)·(k1+1)
                                / (tf(t,d) + k1·(1 − b + b·|d|/avgdl))
        idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))   (the standard
        always-positive smoothing)

    Plan: corpus stats come map-side from the scan (a projection-only
    pass, no shuffle); the ONE corpus explode is semijoined against the
    BROADCAST query-term set BEFORE its tf aggregation, so non-matching
    tokens die map-side and every Exchange in the plan is hits-sized —
    the corpus vocabulary never shuffles. The doc length is CARRIED
    THROUGH the tf groupBy as a grouping key (dl is per-doc constant, so
    groups are unchanged) — the norm-in-postings layout the persisted
    index (`operators/bm25_index.py`) uses, applied to the batch path:
    no corpus-sized doc-length join at score time. df derives from the
    (already query-term-only) tf table, and the final per-(query, doc)
    sum map-side-combines. Every term is deterministic arithmetic over
    integer counts, so the whole score is SQL-replayable to the cent
    (driver oracle rounds to 6 decimals). Only docs sharing ≥1 term with
    the query appear (score 0 rows are not materialized — at 100 TB the
    result is hits-sized, not corpus-sized)."""
    stats = df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.size(tokens(text_col)).cast("long")).alias("avgdl"),
    ).collect()[0]
    # empty corpus: avg() is NULL; any positive avgdl works (no hit row
    # can exist to read it)
    n_docs = float(stats["n_docs"])
    avgdl = float(stats["avgdl"]) if stats["avgdl"] is not None else 1.0
    qtok = queries.select(
        F.col(query_id_col), F.explode(tokens(query_text_col)).alias("token")
    ).distinct()
    # the broadcast query-term semijoin sits BEFORE the tf aggregation,
    # so every shuffle in the plan is hits-sized: non-matching tokens die
    # map-side inside the explode stage and the corpus vocabulary never
    # crosses an Exchange; dl rides the groupBy as a (per-doc constant)
    # grouping key, so no separate doc-length join is ever needed
    # tokenize ONCE per row (r14): a single projection feeds both the
    # doc-length and the explode, instead of evaluating the tokenizer
    # twice per row in one select
    toks = df.select(F.col(id_col), tokens(text_col).alias("__ta"))
    tf_df = (
        toks.select(
            F.col(id_col),
            F.size("__ta").cast("long").alias("dl"),
            F.explode("__ta").alias("token"),
        )
        .join(F.broadcast(qtok.select("token").distinct()), "token")
        .groupBy(id_col, "dl", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        # hits-sized by the semijoin above; cache so the corpus explode
        # pipeline feeds BOTH consumers (docfreq and the hits probe side)
        # once instead of executing twice (r14)
        .cache()
    )
    docfreq = tf_df.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    hits = tf_df.join(F.broadcast(qtok), "token").join(
        F.broadcast(docfreq), "token"
    )
    contrib = bm25_contribution(n_docs, avgdl, k1, b)
    return (
        hits.groupBy(query_id_col, id_col)
        .agg(F.round(F.sum(contrib), 6).alias("score"))
    )


def bm25_contribution(
    n_docs: float, avgdl: float, k1: float = 1.2, b: float = 0.75
) -> Column:
    """The per-(query-term, doc) BM25 contribution over columns
    (tf, dl, df) — shared by :func:`bm25_scores` and the persisted-index
    probe (`operators/bm25_index.py`) so both paths produce BIT-IDENTICAL
    scores (same IEEE operation order, which the driver oracle replays
    term for term)."""
    idf = F.log(
        F.lit(1.0)
        + (F.lit(n_docs) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    return idf * (
        F.col("tf") * (F.lit(k1) + 1.0)
        / (
            F.col("tf")
            + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
        )
    )


def doc_fingerprint(text_col: str, native: bool = True) -> Column:
    """Content fingerprint of whitespace-normalized lowercase text.
    native=True -> xxhash64 (JVM); False -> DuckDB-parity hash (Arrow UDF)."""
    norm = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    return spark_hash64(norm) if native else duckdb_hash("v1.0.0", norm)


def ngram_contamination(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    hashed: bool = True,
) -> DataFrame:
    """Benchmark-contamination scoring by n-gram overlap — the standard
    "drop documents sharing too many 13-grams with an eval set" rule
    (Brown et al. 2020 App. C / GPT-3 decontamination).

    Per doc: (id, n_grams, n_hit) over DISTINCT n-grams, where n_hit
    counts grams present in the benchmark's distinct gram set. Docs
    shorter than n tokens produce no rows (nothing to match on).
    Thresholding (e.g. drop when 2*n_hit >= n_grams) stays integer-exact
    across engines.

    Scale shape: the benchmark gram set is eval-corpus-sized — tiny next
    to the training corpus — so it broadcasts and the corpus-side gram
    stream never shuffles before its per-doc aggregation (map-side
    partial). ``hashed=True`` keys grams by 64-bit hashes (8-byte rows,
    the 100 TB path); ``hashed=False`` uses raw gram strings, bit-exact
    reproducible in any engine (the oracle path)."""
    gram = (lambda c: hashed_word_shingles(c, n)) if hashed else (
        lambda c: word_shingles(c, n)
    )
    dg = docs.select(
        F.col(id_col), F.explode(F.array_distinct(gram(text_col))).alias("g")
    )
    bg = (
        bench.select(F.explode(F.array_distinct(gram(text_col))).alias("g"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    return (
        dg.join(F.broadcast(bg), "g", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_hit"),
        )
    )


def ngram_diversity(
    df: DataFrame,
    group_cols,
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """(group, n_grams_total, n_grams_distinct, distinct_ratio) — the
    distinct-n diversity metric per group (Li et al. 2016's distinct-n,
    corpus-level): the standard collapse detector for SYNTHETIC data
    pipelines — model-generated corpora repeat n-grams far above human
    baseline, and the ratio falling round-over-round is the signal to
    stop mining a generator. Counts are exact integers (cross-engine
    comparable); hashed n-grams (`hashed_word_shingles`) keep the
    distinct-aggregation rows at 8 bytes. One explode + one two-level
    aggregation — n_grams_distinct uses an exact count_distinct (the
    group-keyed shuffle is the irreducible cost; swap in
    `approx_count_distinct` consciously at extreme group sizes)."""
    keys = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    g = df.select(
        *keys, F.explode(hashed_word_shingles(text_col, n)).alias("g")
    )
    return g.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_grams_total"),
        F.count_distinct("g").alias("n_grams_distinct"),
    ).select(
        *keys,
        "n_grams_total",
        "n_grams_distinct",
        (
            F.col("n_grams_distinct").cast("double")
            / F.greatest(F.col("n_grams_total").cast("double"), F.lit(1.0))
        ).alias("distinct_ratio"),
    )


def script_profile(col) -> Column:
    r"""struct(n_letters, n_latin, n_cyrillic, n_cjk, n_hiragana,
    n_katakana, n_arabic, n_greek, n_hebrew, n_hangul, n_devanagari,
    n_thai) — Unicode-script letter counts, the language-ID complement
    the stopword tables can't provide (stopword langid only separates
    languages SHARING a script; a Cyrillic or CJK page scores 0 on
    every list and needs the script signal to route to the right
    pipeline — the FineWeb-2 shape: script first, then per-script
    language models). Hiragana/Katakana are counted separately from Han
    so a kana-heavy Japanese page — the exact routing case — does not
    profile as script-less, and the kana:Han mix separates Japanese
    from Chinese text that shares the Han block. Pure JVM
    ``regexp_count`` with Java Unicode script classes — scan-speed, no
    UDF. Ratios are one division away; counts stay integer for exact
    cross-engine compares. Script classes include combining marks (a
    Devanagari matra counts toward n_devanagari), while ``n_letters``
    is strict \p{L} — the script sum can exceed it on abugida text."""
    c = F.col(col) if isinstance(col, str) else col
    def n(script):
        return F.regexp_count(c, F.lit(rf"\p{{Is{script}}}")).alias(
            f"n_{script.lower()}"
        )
    return F.struct(
        F.regexp_count(c, F.lit(r"\p{L}")).alias("n_letters"),
        n("Latin"), n("Cyrillic"),
        F.regexp_count(c, F.lit(r"\p{IsHan}")).alias("n_cjk"),
        n("Hiragana"), n("Katakana"),
        n("Arabic"), n("Greek"), n("Hebrew"), n("Hangul"),
        n("Devanagari"), n("Thai"),
    )


def dedup_lines_within_doc(
    df: DataFrame,
    text_col: str,
    out_col: str | None = None,
    max_lines: int | None = None,
) -> DataFrame:
    """Drop each document's REPEATED lines, keeping first occurrences in
    order — intra-document exact dedup (the Gopher/C4 repetition family
    acts ON the signal instead of just scoring it; distinct from
    `web.remove_boilerplate_lines`, which drops lines repeated ACROSS
    documents). Adds ``{out_col}`` (default: rewrite ``text_col``) and
    ``n_dup_lines``.

    Per-doc cost is O(lines·log lines): sort (line, position) structs,
    mark each run head by comparing against a one-slot-shifted copy
    (``zip_with`` pads the shorter side with NULL, giving the i=0 head
    for free), then restore document order by sorting the survivors on
    position — all JVM higher-order expressions, no shuffle, no UDF, no
    seen-array rescans, so a pathological crawl row (a 10^5-line log
    dump or minified blob) stays a ~n·log n task instead of an O(n²)
    straggler. ``max_lines`` is a fail-safe in the ``max_right_rows``
    convention: when set, documents with more lines pass through
    UNCHANGED (``n_dup_lines`` NULL) and are flagged
    ``line_dedup_skipped`` so the bypass is countable downstream."""
    out_col = out_col or text_col
    lines = F.split(F.col(text_col), "\n")
    tagged = F.zip_with(
        lines,
        F.sequence(F.lit(0), F.size(lines) - 1),
        lambda l, p: F.struct(l.alias("l"), p.alias("p")),
    )
    srt = F.array_sort(tagged)  # struct order: line first, then position
    # zip the sorted array against itself shifted one slot right; the
    # extra leading NULL makes zip_with pad the LEFT side's tail, so
    # drop the trailing a-is-NULL element and keep run heads only.
    heads = F.filter(
        F.zip_with(
            srt,
            F.concat(F.array(F.lit(None).cast("struct<l:string,p:int>")), srt),
            lambda a, prev: F.struct(
                a["l"].alias("l"),
                a["p"].alias("p"),
                (prev.isNull() | (prev["l"] != a["l"])).alias("keep"),
            ),
        ),
        lambda x: x["l"].isNotNull() & x["keep"],
    )
    kept = F.transform(
        F.array_sort(
            F.transform(
                heads, lambda x: F.struct(x["p"].alias("p"), x["l"].alias("l"))
            )
        ),
        lambda x: x["l"],
    )
    deduped = F.array_join(kept, "\n")
    n_dup = (F.size(lines) - F.size(kept)).cast("long")
    if max_lines is not None:
        oversize = F.size(lines) > F.lit(int(max_lines))
        return (
            df.withColumn("line_dedup_skipped", oversize)
            .withColumn(
                "n_dup_lines",
                F.when(oversize, F.lit(None).cast("long")).otherwise(n_dup),
            )
            .withColumn(
                out_col, F.when(oversize, F.col(text_col)).otherwise(deduped)
            )
        )
    return df.withColumn("n_dup_lines", n_dup).withColumn(out_col, deduped)


def span_corruption(
    df: DataFrame,
    id_col: str,
    text_col: str,
    noise_density: float = 0.15,
    mean_span: int = 3,
    seed: int = 0,
    inputs_col: str = "inputs",
    targets_col: str = "targets",
    hash: str = "native",
) -> DataFrame:
    """T5-style span-corruption pairs (Raffel et al. 2020 §3.1.4) as a
    DETERMINISTIC column transform: ``inputs`` is the document with
    masked spans replaced by ``<extra_id_j>`` sentinels, ``targets`` is
    the sentinels followed by the masked-out tokens (+ the closing
    sentinel), ``n_masked`` the masked token count.

    Where T5 samples spans from an RNG, this derives them from
    ``xxhash64(id, j, seed)`` — same corpus + seed ⇒ the same pairs on
    every engine, executor, and retry (a lineage recompute after
    executor loss CANNOT produce different training data, the property
    RNG-based augmentation silently lacks). The stateless scheme keeps
    every position's fate a pure function of (id, j): the document
    partitions into ``n_spans = round(n·density/mean_span)`` equal
    buckets, bucket ``j`` hosts one span of hash-chosen length
    1..2·mean_span−1 (uniform, mean = mean_span) at a hash-chosen
    offset — non-overlap by construction, no sequential state, so the
    whole transform is JVM higher-order expressions (slice/flatten
    over the token array; no UDF, no shuffle). Documents too short for
    one span pass through uncorrupted (targets = '').

    ``hash`` picks the span-derivation hash (the
    `filter_contamination(native=...)` precedent): ``"native"`` —
    ``xxhash64``, the JVM fast path; ``"duckdb"`` — a cross-engine
    derivation any SQL engine can replay exactly (60-bit integer from
    the first 15 hex chars of ``md5(id || ':' || j || ':' || seed ||
    ':' || k)``; DuckDB: ``('0x' || substr(md5(...), 1, 15))::BIGINT``),
    which is how the driver gate pins the whole reconstruction law with
    zero tolerance. Same span STATISTICS, different span positions —
    pick one per corpus and keep it."""
    if not (0.0 < noise_density < 1.0):
        raise ValueError("noise_density must be in (0, 1)")
    if mean_span < 1:
        raise ValueError("mean_span must be >= 1")
    if hash not in ("native", "duckdb"):
        raise ValueError("hash must be 'native' or 'duckdb'")

    def hkey(j: Column, k: int) -> Column:
        if hash == "native":
            return F.xxhash64(F.col(id_col), j, F.lit(seed), F.lit(k))
        s = F.concat_ws(
            ":",
            F.col(id_col).cast("string"),
            j.cast("string"),
            F.lit(str(seed)),
            F.lit(str(k)),
        )
        return F.conv(F.substring(F.md5(s.cast("binary")), 1, 15), 16, 10).cast(
            "long"
        )

    def of(arr: Column) -> Column:
        n = F.size(arr)
        ns_raw = F.floor(
            n.cast("double") * F.lit(noise_density) / F.lit(float(mean_span))
            + F.lit(0.5)
        ).cast("int")
        ns = F.least(ns_raw, n)

        def bstart(j):
            return F.floor(j.cast("long") * n / ns).cast("int")

        def span_of(j):
            bs, be = bstart(j), bstart(j + 1)
            blen = be - bs
            slen = F.least(
                F.lit(1)
                + F.pmod(hkey(j, 1), F.lit(2 * mean_span - 1)).cast("int"),
                blen,
            )
            off = F.pmod(
                hkey(j, 2), (blen - slen + 1).cast("long")
            ).cast("int")
            return F.struct(
                bs.alias("bs"), be.alias("be"),
                (bs + off).alias("ss"), slen.alias("sl"),
            )

        spans = F.transform(F.sequence(F.lit(0), ns - 1), span_of)

        def sent(j):
            return F.concat(F.lit("<extra_id_"), j.cast("string"), F.lit(">"))

        def piece_in(sp, j):
            # tokens [bs, ss) + sentinel_j + tokens [ss+sl, be)
            pre = F.slice(arr, sp["bs"] + 1, sp["ss"] - sp["bs"])
            post = F.slice(arr, sp["ss"] + sp["sl"] + 1, sp["be"] - sp["ss"] - sp["sl"])
            return F.concat(pre, F.array(sent(j)), post)

        def piece_tgt(sp, j):
            return F.concat(
                F.array(sent(j)), F.slice(arr, sp["ss"] + 1, sp["sl"])
            )

        inputs = F.array_join(
            F.flatten(F.zip_with(
                spans, F.sequence(F.lit(0), ns - 1),
                lambda sp, j: piece_in(sp, j),
            )),
            " ",
        )
        targets = F.array_join(
            F.concat(
                F.flatten(F.zip_with(
                    spans, F.sequence(F.lit(0), ns - 1),
                    lambda sp, j: piece_tgt(sp, j),
                )),
                F.array(sent(ns)),
            ),
            " ",
        )
        n_masked = F.aggregate(
            spans, F.lit(0).cast("long"), lambda acc, sp: acc + sp["sl"]
        )
        passthrough = ns < 1
        return F.struct(
            F.when(passthrough, F.col(text_col)).otherwise(inputs).alias("i"),
            F.when(passthrough, F.lit("")).otherwise(targets).alias("t"),
            F.when(passthrough, F.lit(0).cast("long")).otherwise(n_masked).alias("m"),
        )

    bound = F.transform(F.array(tokens(text_col)), of)[0]
    return (
        df.withColumn("__sc", bound)
        .withColumn(inputs_col, F.col("__sc.i"))
        .withColumn(targets_col, F.col("__sc.t"))
        .withColumn("n_masked", F.col("__sc.m"))
        .drop("__sc")
    )


def _size_capacity_kind(kind: str, nkeys: int, filter_kwargs: dict) -> dict:
    """Derive safe geometry for fixed-capacity filter kinds from the key
    count, unless the caller already passed it: cuckoo gets the next
    power-of-two ``nbuckets`` at <=0.84 load (the kick loop stays sane),
    quotient the smallest ``q`` with 2^q slots at <=0.85 load. Bloom
    sizes via ``n`` directly in `build_filter`; peeled kinds size from
    the key array. Returns a (possibly updated) copy."""
    out = dict(filter_kwargs)
    if kind == "cuckoo" and "nbuckets" not in out:
        bs = out.get("bucket_size", 4)
        need = int(nkeys / (bs * 0.84)) + 1
        out["nbuckets"] = max(2, 1 << (need - 1).bit_length())
    if kind == "quotient" and "q" not in out:
        out["q"] = max(8, int(nkeys / 0.85).bit_length())
    return out


def filter_contamination(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    kind: str = "xor16",
    verify: bool = True,
    num_shards: int | None = None,
    native: bool = True,
    **filter_kwargs,
) -> DataFrame:
    """:func:`ngram_contamination` at the scale where the benchmark gram
    SET itself stops being broadcastable — the engine's filter kernels
    applied to decontamination (the reference's headline prefiltered-join
    use case, `plans/filter_join.py`, pointed at eval n-grams).

    The benchmark's distinct gram hashes aggregate into ONE immutable
    filter blob (~2.4 bytes/gram at xor16 vs 8-byte hashes + join
    machinery for the set join; `build_filter`, any registered kind,
    `num_shards` for the billion-gram build — capacity-bound kinds
    [bloom/cuckoo/quotient] are auto-sized from the gram count at a
    safe load factor unless their geometry kwargs are passed
    explicitly), which broadcasts and
    probes map-side (`probe_filter` — numpy over Arrow batches, or for
    duckdb_bloom a broadcast join to the blob's sectors; no shuffle on the
    corpus gram stream before its per-doc aggregation).

    Returns per doc (docs shorter than ``n`` tokens produce no rows):

    - ``n_grams``  — distinct n-grams (exact);
    - ``n_flagged`` — grams the filter reports present. NO false
      negatives ever (AMQ guarantee), so ``n_flagged >= true n_hit`` and
      ``n_flagged = 0`` is a PROOF of cleanliness; overcount is bounded
      by the kind's FP rate (~2^-16 per gram at xor16);
    - ``n_hit`` (``verify=True``) — the EXACT overlap: flagged grams
      re-check against the true benchmark set, but the exact join now
      runs only on the filter-surviving gram stream (corpus-wide
      positive mass ≈ true hits + fpp·n_grams — the two-phase
      prefilter-then-verify shape of `filter_join`), so results equal
      :func:`ngram_contamination` exactly (pytest-pinned) at a fraction
      of its join input.

    Both gram streams hash identically — ``native=True`` (default)
    via `hashed_word_shingles` (token hashes combined positionally,
    never materializing gram strings; the fast path), ``native=False``
    via `duckdb_hash` of the gram STRING (the cross-engine path: a
    DuckDB oracle replays hash + — for kind="duckdb_bloom" — the whole
    sector/mask build and probe EXACTLY, which is how the driver gate
    pins this operator including its false positives). Extra
    ``filter_kwargs`` (num_sectors, fpp, ...) pass through to
    `build_filter`."""
    from ..functions.filters import build_filter, probe_filter

    def bench_grams(df_):
        if native:
            return df_.select(
                F.explode(
                    F.array_distinct(hashed_word_shingles(text_col, n))
                ).alias("g")
            )
        # the parity hash is an Arrow UDF (not expressible inside a
        # higher-order lambda): explode the STRING grams, hash the column
        return df_.select(
            F.explode(F.array_distinct(word_shingles(text_col, n))).alias(
                "gs"
            )
        ).select(duckdb_hash("v1.0.0", "gs").alias("g"))

    def doc_grams(df_):
        if native:
            return df_.select(
                F.col(id_col),
                F.explode(
                    F.array_distinct(hashed_word_shingles(text_col, n))
                ).alias("g"),
            )
        return df_.select(
            F.col(id_col),
            F.explode(F.array_distinct(word_shingles(text_col, n))).alias(
                "gs"
            ),
        ).select(id_col, duckdb_hash("v1.0.0", "gs").alias("g"))

    # one lazy barrier: the bench gram explode feeds up to three
    # consumers (sizing count, filter build, verify truth set) — without
    # it each would re-run the full benchmark shingle pass
    bg = bench_grams(bench).localCheckpoint(eager=False)
    # capacity-bound kinds size from the gram count (the peeled kinds —
    # xor/fuse/ribbon — size from the actual key array, so they skip the
    # count job): bloom via n; cuckoo/quotient get their geometry derived
    # at a safe load factor UNLESS the caller passed it explicitly — a
    # benchmark-scale gram set must never out-grow a default-sized
    # fixed-capacity filter mid-build (ADVICE r12)
    # the count job runs only when its result is actually consumed:
    # bloom always sizes from n; cuckoo/quotient only when their
    # geometry kwarg was NOT passed (explicit geometry must not pay a
    # full benchmark-gram aggregation for a discarded value)
    needs_count = kind == "bloom" or (
        kind == "cuckoo" and "nbuckets" not in filter_kwargs
    ) or (kind == "quotient" and "q" not in filter_kwargs)
    nb = max(bg.count(), 1) if needs_count else 100_000
    filter_kwargs = _size_capacity_kind(kind, nb, filter_kwargs)
    filt = build_filter(
        bg, [], "g", kind, n=nb, num_shards=num_shards, **filter_kwargs
    )
    dg = doc_grams(docs)
    probed = probe_filter(dg, filt, "g", result_col="__flag")
    agg = [
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.col("__flag").cast("long")).alias("n_flagged"),
    ]
    if not verify:
        return probed.groupBy(id_col).agg(*agg)
    truth = bg.distinct().withColumn("__hit", F.lit(1))
    # exact verification joins ONLY the flagged gram stream — the
    # filter already removed ~(1 - fpp) of the non-contaminated mass.
    # No broadcast hint: this operator exists for benchmark sets too big
    # to broadcast, and AQE picks broadcast anyway when the set is small
    flagged = probed.where(F.col("__flag")).join(
        truth, "g", "left"
    ).groupBy(id_col).agg(
        F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_hit")
    )
    return (
        probed.groupBy(id_col)
        .agg(*agg)
        .join(flagged, id_col, "left")
        .withColumn("n_hit", F.coalesce(F.col("n_hit"), F.lit(0)))
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 512,
    overlap: int = 0,
) -> DataFrame:
    """Split documents into fixed-budget training chunks: chunk ``c``
    covers tokens ``[c*stride, c*stride + chunk_tokens)`` with
    ``stride = chunk_tokens - overlap`` (``overlap`` tokens of context
    carried between consecutive chunks). Returns
    ``(id_col, chunk_id, chunk_text, n_tokens)``; chunk starts run while
    ``start < n_tokens(doc)``, so the tail chunk may be short. NULL text
    produces no rows.

    Pure JVM array expressions: one ``sequence`` of starts per doc, one
    ``posexplode`` — the token array is built once per row and sliced per
    chunk; no UDF, no shuffle (chunking is embarrassingly row-local; at
    100 TB the output inherits the scan's partitioning).
    """
    if chunk_tokens < 1:
        raise ValueError("chunk_tokens must be positive")
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("overlap must be in [0, chunk_tokens)")
    stride = chunk_tokens - overlap
    toks = tokens(F.col(text_col))

    def of(arr: Column) -> Column:
        starts = F.sequence(F.lit(0), F.size(arr) - 1, F.lit(stride))
        return F.transform(
            starts,
            lambda s: F.struct(
                F.array_join(F.slice(arr, s + 1, chunk_tokens), " ").alias(
                    "chunk_text"
                ),
                F.least(F.lit(chunk_tokens), F.size(arr) - s).alias(
                    "n_tokens"
                ),
            ),
        )

    chunks = F.element_at(F.transform(F.array(toks), of), 1)
    return (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.posexplode(chunks).alias("chunk_id", "__c"),
        )
        .select(
            id_col,
            "chunk_id",
            F.col("__c.chunk_text").alias("chunk_text"),
            F.col("__c.n_tokens").alias("n_tokens"),
        )
    )


_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """The Gopher quality-rule pack (Rae et al. 2021, arXiv:2112.11446,
    Table A1) as per-document boolean flags plus the overall verdict —
    the standard pre-training document gate. Every rule is evaluated in
    INTEGER arithmetic (``3*n_words <= word_chars`` instead of
    ``mean >= 3``), so the flags are bit-reproducible in any engine:

    - ``rule_word_count``:   min_words <= n_words <= max_words
    - ``rule_mean_len``:     mean word length in [3, 10]
    - ``rule_symbol_ratio``: (# + ellipsis occurrences) / words <= 0.1
    - ``rule_alpha_words``:  >= 80% of words contain a letter
    - ``rule_stopwords``:    >= 2 distinct common stopwords present

    Pure JVM expressions over one pass; no shuffle, no UDF.
    """
    c = F.col(text_col)
    t = tokens(text_col)
    n_words = F.size(t)
    # sum of token lengths == chars after removing separator spaces
    word_chars = F.length(F.regexp_replace(c, " ", ""))
    n_hash = F.length(c) - F.length(F.expr(f"replace({text_col}, '#', '')"))
    n_ellipsis = (
        F.length(c) - F.length(F.expr(f"replace({text_col}, '...', '')"))
    ) / 3
    n_alpha = F.size(F.filter(t, lambda w: w.rlike("[A-Za-z]")))
    stop_arr = F.array(*[F.lit(s) for s in _GOPHER_STOPWORDS])
    n_stop = F.size(F.array_intersect(F.array_distinct(t), stop_arr))

    r_count = (n_words >= min_words) & (n_words <= max_words)
    r_mean = (3 * n_words <= word_chars) & (word_chars <= 10 * n_words)
    r_symbol = 10 * (n_hash + n_ellipsis.cast("long")) <= n_words
    r_alpha = 5 * n_alpha >= 4 * n_words
    r_stop = n_stop >= 2
    return df.select(
        "*",
        n_words.alias("n_words"),
        n_stop.alias("n_stopwords_distinct"),
        r_count.alias("rule_word_count"),
        r_mean.alias("rule_mean_len"),
        r_symbol.alias("rule_symbol_ratio"),
        r_alpha.alias("rule_alpha_words"),
        r_stop.alias("rule_stopwords"),
        (r_count & r_mean & r_symbol & r_alpha & r_stop).alias("gopher_pass"),
    )


# tiny demo blocklist for the C4 bad-words page gate; production swaps
# in the full public "List of Dirty Naughty Obscene..." list the paper
# used — the rule shape (word-boundary match over the lowercased page)
# is what matters here
_C4_BAD_WORDS = ("badword1", "badword2", "obscenephrase")


def c4_clean_lines(col, min_words: int = 5) -> Column:
    """C4's line-level retention (Raffel et al. 2020, §2.2): keep only
    lines that end in a terminal punctuation mark (. ! ? "), contain at
    least ``min_words`` whitespace words, and do not mention
    "javascript" (boilerplate cookie/JS warnings). Returns the document
    rebuilt from the surviving lines — pure JVM array ops, no UDF, no
    shuffle."""
    c = F.col(col) if isinstance(col, str) else col
    lines = F.split(c, "\n")
    kept = F.filter(
        lines,
        lambda l: F.trim(l).rlike('[.!?"]$')
        & (F.size(F.split(F.trim(l), " +")) >= min_words)
        & ~F.lower(l).contains("javascript"),
    )
    return F.array_join(kept, "\n")


def c4_rules(
    df: DataFrame,
    text_col: str = "text",
    min_line_words: int = 5,
    min_kept_lines: int = 3,
    bad_words: tuple = _C4_BAD_WORDS,
) -> DataFrame:
    """The C4 page-level rule pack (Raffel et al. 2020, §2.2) as flags
    plus the line-cleaned text — the other classic web-cleaning gate
    next to :func:`gopher_rules`:

    - line filter (see :func:`c4_clean_lines`) and ``c4_n_kept`` —
      the page must keep >= ``min_kept_lines`` lines (the paper's
      "fewer than 3 sentences" proxy at line granularity);
    - ``c4_has_brace``: page contains ``{`` (code);
    - ``c4_has_lorem``: page contains "lorem ipsum";
    - ``c4_has_badword``: any blocklist word appears (word-boundary
      match over the lowercased page);
    - ``c4_pass``: all of the above clear.

    Integer/boolean outputs, pure JVM expressions in one pass —
    bit-reproducible in any engine (the oracle replays each rule)."""
    c = F.col(text_col)
    cleaned = c4_clean_lines(c, min_line_words)
    n_kept = F.when(
        F.length(cleaned) == 0, F.lit(0)
    ).otherwise(F.size(F.split(cleaned, "\n")))
    has_brace = c.contains("{")
    has_lorem = F.lower(c).contains("lorem ipsum")
    bad_re = "(^|[^a-z0-9])(" + "|".join(bad_words) + ")($|[^a-z0-9])"
    has_bad = F.lower(c).rlike(bad_re)
    keep = (
        (n_kept >= min_kept_lines) & ~has_brace & ~has_lorem & ~has_bad
    )
    return df.select(
        "*",
        cleaned.alias("c4_clean"),
        n_kept.alias("c4_n_kept"),
        has_brace.alias("c4_has_brace"),
        has_lorem.alias("c4_has_lorem"),
        has_bad.alias("c4_has_badword"),
        keep.alias("c4_pass"),
    )


def compression_signal(
    df: DataFrame, id_col: str, text_col: str = "text", level: int = 6
) -> DataFrame:
    """Per-document zlib-compressibility — the classic "too repetitive /
    too templated" filter signal (highly compressible text is boilerplate
    or spam; near-incompressible text is noise or binary junk). Returns
    ``(id_col, n_bytes, n_compressed)``; filter on the ratio, e.g. keep
    ``0.3 <= n_compressed / n_bytes <= 0.9``.

    Arrow-batched pandas UDF (zlib is C-speed; the cost is the
    compression itself, not Python row overhead); map-side, zero
    shuffle. Integer outputs — deterministic for a fixed zlib version
    and level, so results are comparable across runs of the same
    cluster image.
    """
    import zlib

    @F.pandas_udf("long")
    def comp_len(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None
                if t is None
                else len(zlib.compress(t.encode("utf-8"), level))
                for t in texts
            ],
            dtype="Int64",
        )

    return df.select(
        F.col(id_col),
        F.length(F.col(text_col)).alias("n_bytes"),
        comp_len(F.col(text_col)).alias("n_compressed"),
    )


# -------------------------------------------------------- n-gram LM score ---


def train_ngram_lm(
    df: DataFrame, text_col: str = "text", vocab_size: int = 1 << 16
) -> dict:
    """Train a unigram+bigram language model for quality scoring (the
    CCNet/Gopher-style "perplexity against an in-domain LM" filter
    signal, with a 2-gram model standing in for KenLM).

    Returns ``{"uni": DataFrame(h, c), "bi": DataFrame(hb, cb),
    "n_tokens": int}`` — gram tables capped at ``vocab_size`` rows by
    count (TakeOrderedAndProject: per-partition top-k, no global sort),
    so the model is METADATA-scale regardless of corpus size and both
    tables broadcast at score time. Hashes are JVM ``xxhash64`` (token)
    and ``xxhash64(prev_hash, cur_hash)`` (bigram) — training and
    scoring share the expression, nothing crosses into Python."""
    toks = df.select(F.posexplode(tokens(text_col)).alias("pos", "tok")).select(
        F.xxhash64("tok").alias("h")
    )
    uni = (
        toks.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "h")
        .limit(vocab_size)
    )
    seq = df.select(
        F.transform(tokens(text_col), lambda t: F.xxhash64(t)).alias("hs")
    )
    bi = (
        seq.select(
            F.explode(
                F.zip_with(
                    F.slice("hs", 1, F.greatest(F.size("hs") - 1, F.lit(0))),
                    F.slice("hs", 2, F.greatest(F.size("hs") - 1, F.lit(0))),
                    lambda a, b: F.xxhash64(a, b),
                )
            ).alias("hb")
        )
        .groupBy("hb")
        .agg(F.count(F.lit(1)).alias("cb"))
        .orderBy(F.col("cb").desc(), "hb")
        .limit(vocab_size)
    )
    n_tokens = toks.count()
    return {"uni": uni, "bi": bi, "n_tokens": int(n_tokens)}


def lm_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lm: dict,
    lambda_bi: float = 0.7,
) -> DataFrame:
    """(id, n_scored, avg_logp) — mean interpolated log-probability of
    each document's bigrams under the trained model:

    ``P(w_i | w_{i-1}) = λ · c(bigram)/c(prev) + (1-λ) · c(w_i)/N``,
    floored at ``1/(10N)`` so OOV tokens score harshly but finitely.
    Higher (closer to 0) = more in-distribution; threshold downstream
    like any quality signal (`gopher_rules`, `compression_signal`).

    Plan shape: explode bigrams → THREE BROADCAST joins against the
    vocab-bounded gram tables (map-side, no fact shuffle) → one per-doc
    groupBy. Pure `F.*` arithmetic end to end — no Python in the path."""
    uni = lm["uni"]
    bi = lm["bi"]
    # clamp: an empty model (n_tokens == 0) must not divide by zero (ANSI
    # mode raises); with all counts 0 every gram then scores the floor
    n = max(float(lm["n_tokens"]), 1.0)
    floor = 1.0 / (10.0 * n)
    seq = df.select(
        F.col(id_col),
        F.transform(tokens(text_col), lambda t: F.xxhash64(t)).alias("hs"),
    )
    grams = seq.select(
        id_col,
        F.explode(
            F.zip_with(
                F.slice("hs", 1, F.greatest(F.size("hs") - 1, F.lit(0))),
                F.slice("hs", 2, F.greatest(F.size("hs") - 1, F.lit(0))),
                lambda a, b: F.struct(
                    a.alias("hp"), b.alias("hc"), F.xxhash64(a, b).alias("hb")
                ),
            )
        ).alias("g"),
    ).select(id_col, "g.hp", "g.hc", "g.hb")
    scored = (
        grams.join(F.broadcast(uni.withColumnRenamed("h", "hp").withColumnRenamed("c", "c_prev")), "hp", "left")
        .join(F.broadcast(uni.withColumnRenamed("h", "hc").withColumnRenamed("c", "c_cur")), "hc", "left")
        .join(F.broadcast(bi), "hb", "left")
        .withColumn(
            "p",
            F.greatest(
                F.lit(lambda_bi)
                * F.coalesce(F.col("cb"), F.lit(0)).cast("double")
                / F.greatest(F.coalesce(F.col("c_prev"), F.lit(0)), F.lit(1)).cast("double")
                + F.lit(1.0 - lambda_bi)
                * F.coalesce(F.col("c_cur"), F.lit(0)).cast("double")
                / F.lit(n),
                F.lit(floor),
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.avg(F.log("p")).alias("avg_logp"),
    )


# ----------------------------------------------------------- corpus drift ---


def drift_report(
    df_a: DataFrame,
    df_b: DataFrame,
    cols: list,
    n_buckets: int = 20,
) -> dict:
    """Population-stability-index drift between two corpus snapshots, per
    numeric column — the data-quality gate an evolving 100 TB ingest
    needs ("did this crawl's length/quality/score distribution move?").

    Bucket edges come from snapshot A's min/max (one metadata-scale agg);
    both sides then bucket map-side and aggregate counts (shuffle =
    n_buckets rows per column, never data). PSI convention:
    ``Σ (p_b - p_a) · ln(p_b / p_a)`` over buckets with the standard
    1e-6 zero-floor; < 0.1 stable, 0.1-0.25 moderate shift, > 0.25 major
    shift. B values outside A's range clamp into the edge buckets, so
    out-of-range mass is counted, not dropped.

    Returns ``{col: {"psi": float, "n_a": int, "n_b": int}}``.
    """
    import math

    stats = df_a.agg(
        *[F.min(c).cast("double").alias(f"mn_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"mx_{c}") for c in cols],
    ).collect()[0]

    out: dict = {}
    for c in cols:
        mn, mx = stats[f"mn_{c}"], stats[f"mx_{c}"]
        if mn is None or mx is None or mx == mn:
            # empty or constant baseline: drift is 0 iff B matches exactly
            same = (
                df_b.where(F.col(c).cast("double") != (mn if mn is not None else 0.0)).count()
                if mn is not None
                else df_b.count()
            )
            out[c] = {
                "psi": 0.0 if same == 0 else float("inf"),
                "n_a": df_a.where(F.col(c).isNotNull()).count(),
                "n_b": df_b.where(F.col(c).isNotNull()).count(),
            }
            continue
        width = (mx - mn) / n_buckets
        bucket = F.greatest(
            F.least(
                F.floor((F.col(c).cast("double") - F.lit(mn)) / F.lit(width)),
                F.lit(n_buckets - 1),
            ),
            F.lit(0),
        )

        def hist(df: DataFrame) -> dict:
            rows = (
                df.where(F.col(c).isNotNull())
                .groupBy(bucket.alias("b"))
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
            return {int(r["b"]): int(r["n"]) for r in rows}

        ha, hb = hist(df_a), hist(df_b)
        na, nb = sum(ha.values()), sum(hb.values())
        psi = 0.0
        for b in range(n_buckets):
            pa = max(ha.get(b, 0) / na if na else 0.0, 1e-6)
            pb = max(hb.get(b, 0) / nb if nb else 0.0, 1e-6)
            psi += (pb - pa) * math.log(pb / pa)
        out[c] = {"psi": round(psi, 6), "n_a": na, "n_b": nb}
    return out


# ------------------------------------------------------- token encoding ---


def build_vocabulary(
    df: DataFrame,
    text_col: str,
    top_k: int = 50_000,
    id_col: str | None = None,
) -> DataFrame:
    """(token, n, rank) — the top-``top_k`` tokens by occurrence
    (tie-break on the token for determinism), plus document frequency
    when ``id_col`` is given. The orderBy+limit plans as
    TakeOrderedAndProject (per-partition top-k, driver merges
    top_k × n_partitions rows — no single-partition vocabulary sort);
    the rank window runs over the ``top_k`` survivors only. Feed the
    result straight into :func:`encode_documents`."""
    from pyspark.sql import Window

    tok = df.select(
        *( [F.col(id_col)] if id_col else [] ),
        F.explode(tokens(text_col)).alias("token"),
    )
    aggs = [F.count(F.lit(1)).alias("n")]
    if id_col:
        aggs.append(F.countDistinct(id_col).alias("df"))
    agg = tok.groupBy("token").agg(*aggs)
    top = agg.orderBy(F.col("n").desc(), "token").limit(top_k)
    w = Window.orderBy(F.col("n").desc(), F.col("token"))
    return top.withColumn("rank", F.row_number().over(w))


def encode_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab: DataFrame,
    token_col: str = "token",
    vocab_id_col: str = "rank",
    oov_id: int = 0,
) -> DataFrame:
    """(id, token_ids array<long>, n_tokens, n_oov) — map each document's
    tokens to vocabulary ids, order-preserved: the step between
    vocabulary building (`q_vocab_topk`'s shape: token -> rank) and
    sequence packing. Unknown tokens encode as ``oov_id``.

    Plan: posexplode -> ONE broadcast join against the (vocab-bounded)
    id table -> per-doc groupBy re-assembling the array via
    ``array_sort`` on (pos, id) structs, so order survives the shuffle
    without any per-doc window. The only wide op is the per-doc groupBy
    (same shape as `minhash_signatures`); the join is map-side."""
    v = vocab.select(
        F.col(token_col).alias("__tok"), F.col(vocab_id_col).cast("long").alias("__tid")
    )
    toks = df.select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("__pos", "__tok")
    )
    joined = toks.join(F.broadcast(v), "__tok", "left").select(
        id_col,
        "__pos",
        F.coalesce("__tid", F.lit(int(oov_id))).alias("__tid"),
        F.col("__tid").isNull().cast("int").alias("__oov"),
    )
    return (
        joined.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("__pos"), F.col("__tid")))
            ).alias("__pairs"),
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("__oov").alias("n_oov"),
        )
        .select(
            id_col,
            F.transform("__pairs", lambda p: p["__tid"]).alias("token_ids"),
            "n_tokens",
            "n_oov",
        )
    )


def normalize_text(
    col,
    collapse_digits: bool = True,
    strip_punct: bool = True,
) -> Column:
    """Canonical text for fingerprinting/dedup (the standard MinHash-era
    normalization: near-identical pages should produce IDENTICAL
    fingerprints): lowercase, punctuation stripped, digit runs collapsed
    to a single ``0`` (timestamps/ids/counters stop defeating exact
    dedup), whitespace collapsed. Pure regexp chain — map-side at scan
    speed; feed the result to `doc_fingerprint` / `dedup_exact` /
    shingling so formatting noise can't split a duplicate group."""
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    if collapse_digits:
        # BEFORE punctuation strip, with separators in the run: "1,234.5"
        # is one number and must become one "0", not several
        c = F.regexp_replace(c, r"[0-9][0-9.,:]*", "0")
    if strip_punct:
        c = F.regexp_replace(c, r"[^\w\s]", " ")
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def blocklist_hits(col, terms: list) -> Column:
    """Number of token occurrences that match the blocklist (C4-style
    content gate: pages containing listed terms are dropped or flagged).
    Token-level equality on the lowercased token (no substring traps:
    'class' never matches 'ass'), pure JVM `F.filter`/`isin` — map-side
    at scan speed; broadcast-free because the list ships in the plan."""
    if not terms:
        return F.lit(0)
    lowered = [t.lower() for t in terms]
    return F.size(
        F.filter(tokens(col), lambda t: F.lower(t).isin(*lowered))
    )


def blocklist_filter(
    df: DataFrame, text_col: str, terms: list, max_hits: int = 0
) -> DataFrame:
    """Keep documents with at most ``max_hits`` blocklisted token
    occurrences (0 = any hit drops the page)."""
    return df.where(blocklist_hits(F.col(text_col), terms) <= max_hits)


# Sentence boundary: split on whitespace runs that follow terminal
# punctuation and precede a capital/digit (optionally quote/paren
# -opened), guarded against the common title abbreviations. A bounded
# heuristic by design — the deterministic, scan-speed cut; a statistical
# segmenter (punkt-style) belongs in an Arrow-UDF variant if fidelity
# ever beats throughput (same contract as strip_html).
SENTENCE_BOUNDARY_RE = (
    r"(?<=[.!?])(?<!\b(?:Mr|Mrs|Ms|Dr|Prof|St|No|vs)\.)"
    r"\s+(?=[\"'(\[]?[A-Z0-9])"
)


def split_sentences(col) -> Column:
    """Array of sentences (terminal punctuation kept with its sentence).
    Pure JVM regexp split at the guarded boundary above."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, SENTENCE_BOUNDARY_RE)


def dedup_sentences(
    df: DataFrame, id_col: str, text_col: str, min_chars: int = 0
) -> DataFrame:
    """Corpus-wide sentence-level dedup: drop every repeated sentence
    except its first (lowest (id, position)) occurrence and rebuild the
    document — `dedup_paragraphs`' machinery (hash winner election,
    map-side-partial min(struct), text shuffles once) at sentence
    granularity, rejoined with single spaces. Sentences shorter than
    ``min_chars`` always survive (don't dedup "Yes." corpus-wide)."""
    from .dedup import dedup_paragraphs

    return dedup_paragraphs(
        df, id_col, text_col,
        sep=SENTENCE_BOUNDARY_RE, min_chars=min_chars, join_sep=" ",
    )


def nfkc_normalize(col, casefold: bool = False) -> Column:
    """Unicode NFKC normalization (fullwidth→ASCII, ligatures split,
    compatibility forms folded) with optional casefold — the standard
    canonicalization in front of tokenizers/dedup that plain
    `normalize_text` (an ASCII-oriented regexp chain) can't express.
    Spark has no built-in Unicode normalizer, so this is an
    Arrow-batched pandas UDF over `unicodedata` (C-implemented; the
    batch loop is the only Python). Compose: `nfkc_normalize` →
    `fix_mojibake` is the wrong order — repair mojibake FIRST (NFKC
    would fold the broken sequences' characters and break the repair
    table's byte images)."""
    import unicodedata

    c = F.col(col) if isinstance(col, str) else col

    @F.pandas_udf("string")
    def nf(s: pd.Series) -> pd.Series:
        def one(t):
            if t is None:
                return None
            out = unicodedata.normalize("NFKC", t)
            return out.casefold() if casefold else out

        return s.map(one)

    return nf(c)


def lcs_contamination(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_lcs: int = 8,
    bench_id_col: str | None = None,
    df_cap: int | None = None,
) -> DataFrame:
    """(id_col, bench_id, lcs_tokens) — pairs where a document and a
    benchmark item share a CONTIGUOUS token run of ≥ ``min_lcs``
    (token-level longest-common-substring), with the exact run length.
    The fuzzy complement of :func:`ngram_contamination`'s count surface
    and the phrase index's exact-sentence lookup: the
    frontier-model-card decontamination rule is "drop on a ≥ N-token
    verbatim overlap", and the run LENGTH is the audit column that
    separates a quoted sentence (~15 tokens) from a wholesale paste
    (hundreds).

    DIAGONAL-ISLANDS formulation, no quadratic DP anywhere: a common
    token run of length L ≥ min_lcs is exactly a run of R = L−n+1
    CONSECUTIVE matching n-gram positions (n = min_lcs) on one diagonal
    d = i−j of the match matrix, so the whole computation is one hashed
    n-gram POSITION equi-join (`hashed_word_shingles` + posexplode —
    match volume ∝ shared-gram occurrences, which are rare at n ≥ 8;
    the only wide op) → gaps-and-islands per (pair, diagonal) (i −
    row_number() constant within a run) → max run + n − 1. Pure
    DataFrame expressions end-to-end — no UDF, no per-pair text
    materialization, and the identical islands algebra replays in ANSI
    SQL (equal bar a 64-bit gram-hash collision, the #158 convention).
    ``df_cap`` is the `shingle_jaccard_pairs` skew guard: grams present
    in more than df_cap documents are excluded from matching only (a
    boilerplate gram shared by half the corpus would make the match
    stream quadratic); runs measured through surviving grams stay
    exact."""
    from pyspark.sql import Window

    if min_lcs < 2:
        raise ValueError("min_lcs must be >= 2")
    bid = bench_id_col or id_col
    dg = docs.select(
        F.col(id_col),
        F.posexplode(hashed_word_shingles(text_col, min_lcs)).alias("i", "g"),
    )
    if df_cap is not None:
        hot = (
            dg.groupBy("g")
            .agg(F.count_distinct(id_col).alias("__df"))
            .where(F.col("__df") > df_cap)
            .select("g")
        )
        dg = dg.join(F.broadcast(hot), "g", "left_anti")
    bg = bench.select(
        F.col(bid).alias("bench_id"),
        F.posexplode(hashed_word_shingles(text_col, min_lcs)).alias("j", "g"),
    )
    m = dg.join(bg, "g").select(
        id_col, "bench_id", (F.col("i") - F.col("j")).alias("__d"), "i"
    )
    w = Window.partitionBy(id_col, "bench_id", "__d").orderBy("i")
    runs = m.withColumn("__isl", F.col("i") - F.row_number().over(w))
    return (
        runs.groupBy(id_col, "bench_id", "__d", "__isl")
        .agg((F.count(F.lit(1)) + F.lit(min_lcs - 1)).alias("__run"))
        .groupBy(id_col, "bench_id")
        .agg(F.max("__run").cast("long").alias("lcs_tokens"))
    )
