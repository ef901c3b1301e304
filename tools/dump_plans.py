"""Regenerate PLANS.md: formatted physical plans of the headline queries
with notes on the properties that matter at scale. Usage:
``python tools/dump_plans.py [sf_dir]``."""

from __future__ import annotations

import contextlib
import io
import sys

sys.path.insert(0, ".")

NOTES = {
    "q_filter_join": (
        "Pre-cut join. What to check: the orders scan carries "
        "`PushedFilters: GreaterThan(o_totalprice,...)`; the lineitem scan reads "
        "3 of 16 columns; the probe (ArrowEvalPython) sits directly on the scan "
        "with NO Exchange before it — the fact side never shuffles until after "
        "the row cut."
    ),
    "q_filter_members": (
        "All nine filter kinds (quotient/xor/fuse/bloom/cuckoo/ribbon, r10 "
        "added both ribbon widths) build in ONE grouped multi-build job "
        "(single MapInPandas pass folds per-(group, kind) partials, one "
        "merge stage), collected once; all probes ride one pass over the "
        "localCheckpointed projection as map-side Arrow UDF columns, and one "
        "aggregation emits every count, unpivoted via stack. Raw rows never "
        "shuffle for the builds; the sizes legs reuse the same scan via "
        "build_filters_multi."
    ),
    "q_pack_shards": (
        "Two-phase distributed prefix sum: range repartition + sort-within "
        "(the shuffle a global sort pays anyway, but never one task), "
        "per-partition totals to the driver (one row per partition), offset "
        "pass over the same partitioning, pinned by an eager localCheckpoint "
        "so the driver offsets can never drift from a recomputed boundary. "
        "NO Window anywhere — a 1-partition global window is the "
        "anti-pattern this replaces."
    ),
    "q_ngram_jaccard_pairs": (
        "Skew-guarded blocking: shingles become 8-byte hashes before any wide "
        "op; ONE window count over s computes document frequency and leaves "
        "rows hash-partitioned by s for the blocking self-join (no separate "
        "freq aggregate, no broadcast anti/semi joins); per-doc set sizes "
        "ride the join as group keys; the pair-count HashAggregate "
        "partial-aggregates below its Exchange."
    ),
    "q_minhash_lsh_pairs": (
        "One xxhash64 per shingle, k=64 affine permutations as plain JVM "
        "arithmetic inside the partial min-aggregate; signature table is "
        "InMemoryTableScan (cached) on both band-join sides."
    ),
    "q_simhash_pairs": (
        "Asymmetric multi-probe banding: 3 wide bands (22/21/21 bits); the "
        "exact-value index side broadcasts (BroadcastHashJoin BuildRight) "
        "under the radius-2 probe side, the hamming<=8 verify runs INSIDE "
        "the join condition, and the distinct's HashAggregate "
        "partial-aggregates before its Exchange — candidate multiplicity "
        "is capped at n_bands per pair, never per probe value."
    ),
    "q_neardup_clusters": (
        "Connected components over the near-dup edge set. The edge set is a "
        "localCheckpoint LEAF shared by all three clustering queries "
        "(components / report / dedup_near) — the suite derives the "
        "shingle-pair subplan once per session, and the component search "
        "(driver union-find under 5M edges, else min-label + pointer "
        "jumping) never replays its lineage."
    ),
    "q_embed_neardup_pairs": (
        "Distributed exact all-pairs: per-block pack (FlatMapGroupsInArrow), "
        "block-pair equi-joins, one BLAS matmul per task (MapInArrow). No "
        "driver collect, no full-corpus broadcast."
    ),
    "q_contamination": (
        "Two legs, one result: the n-gram scoring side hashes grams before "
        "the explode and broadcasts the eval-corpus gram set; the fp_clean "
        "leg is the filter-accelerated anti-join — the bloom probe "
        "(ArrowEvalPython) sits on the corpus scan with no Exchange, the "
        "definitely-clean branch is a pure filter (no join at all), and only "
        "the probable-hit branch carries a BroadcastHashJoin(left_anti) "
        "against the benchmark keys."
    ),
    "q_timeseries": (
        "All four time-series legs union-tagged in one plan. sess leg: one "
        "Exchange on user_id; lag, cumulative sum, and the per-session min "
        "all run in Window execs over the same partitioning — Spark reuses "
        "the sort, no second shuffle for the rollup. asof leg: union + "
        "carry-forward window (single Window with last ignorenulls over the "
        "same user_id partitioning — no range join, no per-key quadratic "
        "candidate set) plus the bucketed-blocking range join (equi-join on "
        "bucket id + exact re-check, never a nested loop). win leg: one "
        "map-side-combined hash aggregate."
    ),
    "q_bm25": (
        "Two legs union'd. Scan leg: every Exchange is hits-sized — the "
        "broadcast query-term semijoin sits INSIDE the explode stage "
        "(non-matching tokens die map-side, the corpus vocabulary never "
        "shuffles), the doc length rides the tf groupBy as a grouping key "
        "(r10: norm-in-postings applied to the batch path — no corpus-sized "
        "doc-length join), corpus stats come map-side from a "
        "projection-only scan, and the final per-(query, doc) sum "
        "partial-aggregates before its Exchange. Index leg: the bucketed "
        "postings scan carries PushedFilters In(token, ...) — probe cost "
        "is the query terms' postings, never the corpus."
    ),
    "q_crawl_frontier": (
        "One window over the host key — the same shuffle a fetcher fleet "
        "partitions by; round and fetcher are pure expressions over the "
        "rank, so politeness is a plan property with a single Exchange."
    ),
    "q_multimodal_meta": (
        "Three leg-tagged mapInPandas branches (meta rollup, frame "
        "explosion, feature argmax) over ONE attach_payload projection; "
        "the only Exchanges are the meta groupBy and the final union's "
        "consumers — payload bytes never shuffle."
    ),
    "q_tfidf": (
        "Document-frequency side is vocabulary-sized: check the "
        "BroadcastHashJoin (no shuffle of the corpus-side tf rows against df); "
        "both aggregates show partial HashAggregate below their Exchange."
    ),
    "q_filter_union": (
        "Hierarchical filter rollup: fine-group build (MapInPandas partials + "
        "per-group merge), then collect_list shuffles one BLOB per fine group "
        "into the coarse-group merge — rows shuffle exactly once, blobs once."
    ),
    "q_cms_counts": (
        "Count-min build rides the two-phase mergeable machinery (MapInPandas "
        "partial matrices, one merge task); the probe is a map-side Arrow UDF "
        "against the broadcast blob — distinct keys never shuffle with the "
        "sketch attached."
    ),
    "q_quantize_int8": (
        "Whole-stage-codegen array math: the quantization is pure JVM "
        "higher-order functions over the embedding column — single pruned "
        "scan, zero Exchanges, no Python in the plan."
    ),
    "q_pagerank": (
        "Power iteration with the loop invariants (distinct edges, node "
        "set, out-degrees) localCheckpointed ONCE: each of the k "
        "iterations is one dst-keyed partial-aggregated Exchange plus "
        "node-keyed joins over checkpoint scans, so the static plan is "
        "linear in k (6 Exchanges at k=3) and the edge list is scanned "
        "once, not k times."
    ),
    "q_pipeline_e2e": (
        "Five chained stages in one plan; the exact-dedup and near-dedup "
        "results are localCheckpoint leaves (branch-heavy chain would "
        "otherwise re-run upstream stages per branch), the decontamination "
        "probe short-circuits clean rows map-side, and only probable hits "
        "reach the BroadcastHashJoin(left_anti)."
    ),
}


def main(sf_dir: str) -> None:
    from bitfilters_spark.session import make_session

    import __spark_entry__ as E

    spark = make_session(app="plan-dump", cpus=4, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()
    out = [
        "# Physical plans (generated by tools/dump_plans.py)",
        "",
        f"Scale factor dir: `{sf_dir}`. Regenerate after plan-affecting changes.",
        "",
    ]
    for name, note in NOTES.items():
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        out += [f"## {name}", "", note, "", "```", buf.getvalue().rstrip(), "```", ""]
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md written ({len(NOTES)} plans)")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001")
