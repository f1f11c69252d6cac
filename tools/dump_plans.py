"""Regenerate PLANS.md: formatted physical plans of the flagship
queries with the scale-relevant properties called out.  Run after any
planner-visible change:

    python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

#: (query name, what to look for in the plan)
SHOWCASE = [
    (
        "pricing_summary",
        "TPC-H Q1 shape. The shipdate predicate reaches the scan as a "
        "PushedFilter; ReadSchema lists only the 7 needed columns of 11; "
        "partial+final HashAggregate; the whole pipeline is one "
        "WholeStageCodegen span per stage.",
    ),
    (
        "region_revenue",
        "Star join. nation/region broadcast explicitly, customer side "
        "converted to broadcast by AQE -- the orders fact table is never "
        "shuffled for the joins; only the final 5-group aggregate moves.",
    ),
    (
        "top_orders",
        "orderBy+limit plans as TakeOrderedAndProject: a per-partition "
        "heap plus driver merge -- no global sort shuffle regardless of "
        "table size.",
    ),
    (
        "asof_click_before_purchase",
        "As-of join via union + last-non-null window: exactly ONE "
        "hash-partition Exchange (on user_id) for the whole join, "
        "independent of either side's size.",
    ),
    (
        "range_join_price_bands",
        "Banded range join: the range predicate becomes an equi-join on "
        "a bucket key (no BroadcastNestedLoopJoin / CartesianProduct), "
        "with the exact range check as a residual filter.",
    ),
    (
        "minhash_banded_near_dups",
        "Banded MinHash, r10 byte-gated crossover: BELOW the corpus-byte "
        "gate (this dump's SF) the r8 small shape runs -- signatures "
        "ride the bucket postings, est_jaccard computes inside the "
        "bucket pair expansion (no joins back), verification joins the "
        "corpus-wide persisted shingle frame.  ABOVE the gate "
        "(fixtures/sf10) the slim scale shape: (id, band, bucket) "
        "postings only -- the 256 B signature never rides the bucket "
        "exchange (805 -> ~100 MiB at sf10) -- candidate pairs dedupe "
        "before ONE est-jaccard join against the persisted signature "
        "table, and verification semi-join-prunes the corpus to the "
        "candidate id spine.  Values identical (shape-parity test); "
        "the k=32 signature mins are plain aggregate columns inside "
        "whole-stage codegen in both shapes.",
    ),
    (
        "distinct_parts_per_flag",
        "Exact multi-column distinct (r9 shape): raw (flag, key) pairs "
        "repartition per distinct column and aggregate once "
        "post-exchange -- no Expand, no map-side partial agg keyed on "
        "the near-unique distinct columns (the stock plan's 9.2 GiB "
        "spill at sf10); the two rollups join on the 3-row flag key.",
    ),
    (
        "q21_waiting_suppliers",
        "Q21 de-correlated (r9 shape): the EXISTS / NOT EXISTS pair is "
        "one per-order supplier rollup (n_supps, n_late_supps) "
        "equi-joined back on l_orderkey -- no left-semi/left-anti "
        "self-joins, no three-sided SMJ stage; the supplier dim "
        "broadcasts; fact-join exchanges byte-sized at scale.",
    ),
    (
        "scd2_customer_order_history",
        "SCD2 apply: closed history unions through untouched; only the "
        "open rows + update batch shuffle for the re-chaining window.",
    ),
    (
        "world_geo_revenue",
        "The reference's geo join, Spark-first: dim-preserving LEFT "
        "OUTER BroadcastHashJoin with the tiny per-country aggregate as "
        "the broadcast side -- the (wide) world dim never shuffles.",
    ),
    (
        "bucketed_priority_revenue",
        "Co-located join over bucketed tables: both scans report "
        "Bucketed: true / SelectedBucketsCount and feed the join with "
        "no Exchange beneath it (broadcast may still win at tiny SF; "
        "disable broadcast to see the exchange-free SortMergeJoin the "
        "plan takes at 100 TB).",
    ),
    (
        "q8_market_share",
        "TPC-H Q8, the widest suite shape: 8-way join where the lineitem "
        "fact never shuffles -- every dim either explicitly broadcast "
        "(nation/region) or broadcast by AQE at this SF (at 100 TB AQE "
        "keeps the big dims as shuffle joins; the fact-side pipeline is "
        "unchanged); both fixed-point share sums ride one HashAggregate.",
    ),
    (
        "packed_doc_manifest",
        "Sequence packing: distributed prefix sum -- RangePartitioning "
        "exchange on doc_id, a P-row offset aggregate, then a "
        "partition-local window (partitionBy _pid) + broadcast offset "
        "join; NO partition-less global window anywhere in the plan.",
    ),
    (
        "fuzzy_part_name_pairs",
        "Blocked fuzzy match: the self-join keys on the blocking token "
        "(hash-partition exchange, no CartesianProduct); levenshtein is "
        "a codegen'd JVM expression evaluated only within blocks.",
    ),
    (
        "orders_snapshot_diff",
        "Snapshot diff: one SortMergeJoin FullOuter on the key -- both "
        "snapshots shuffle once on o_orderkey, classification is a pure "
        "map over the joined row.",
    ),
    (
        "tfidf_top_terms",
        "TF-IDF: token explode stays in its scan stage; two shuffles "
        "(doc-term tf, term df); the df table broadcasts back for the "
        "idf join; per-doc top-3 is a window on the aggregated frame.",
    ),
    (
        "dpp_urgent_order_revenue",
        "Dynamic partition pruning: the fact scan carries "
        "dynamicpruningexpression(o_orderpriority IN subquery) -- the "
        "dim's attribute filter prunes fact PARTITIONS at runtime, "
        "before any fact bytes are read.",
    ),
    (
        "pii_redacted_docs",
        "PII scrub: all five regexp_replace passes fuse into ONE "
        "projection inside the scan's WholeStageCodegen span -- the "
        "scrub itself is a pure map at scan speed; the single exchange "
        "in the plan is the output ORDER BY that the oracle contract "
        "adds for deterministic comparison, not part of the operator.",
    ),
    (
        "merge_orders_upsert",
        "MERGE INTO: one FullOuter SortMergeJoin on the merge key "
        "(bucket the target at 100 TB and its exchange disappears); "
        "update/insert/delete resolution is a single codegen'd CASE "
        "projection.  The duplicate-source guard costs one extra "
        "source-side exchange (raise_error embedded in the key column "
        "hides it from alias tracking); on_duplicate_source="
        "'assume_unique' drops that exchange when uniqueness is "
        "guaranteed upstream.",
    ),
    (
        "user_daily_gap_locf",
        "Time-series gap-fill: the spine generates via sequence()+explode "
        "NEXT to each key's min/max aggregate row (no date-dim cross "
        "join); the LOCF fill is a per-key window -- the plan shuffles "
        "on user_id for the rollup and the fill, never on a "
        "SinglePartition.",
    ),
    (
        "bm25_top_docs",
        "BM25: the query-term filter sits UNDER the tf aggregate, so the "
        "(doc, term) shuffle carries only matching tokens; df stats and "
        "corpus scalars come back as broadcasts; the top-50 cut is "
        "TakeOrderedAndProject, not a global sort.",
    ),
    (
        "doc_lm_scores",
        "Bigram LM scoring (r9 shape): pair construction is "
        "slice+zip+explode in the scan stage (no window, no self-join); "
        "the vocabulary-bounded count table materializes ONCE (persist "
        "+ the count that doubles as the measured broadcast gate) and "
        "serves all three consumers from cache; within the envelope "
        "counts AND context totals broadcast, so the corpus-sized "
        "bigram stream never shuffles; per-doc sums are fixed-point "
        "longs in codegen.",
    ),
    (
        "incremental_shard_dedup",
        "Incremental shard dedup: one shuffle chain on the fingerprint "
        "-- the anti-ish left join against the base manifest "
        "hash-partitions on the fingerprint and the keep-min window "
        "REUSES that partitioning (no second exchange for the shard "
        "side; asserted in tests/test_dedup.py).",
    ),
    (
        "semdedup_pairs",
        "SemDeDup: ONE shuffle on the k-means cluster id feeding a "
        "FlatMapGroupsInPandas (per-cluster GEMM pair scoring on the "
        "Arrow path -- pair expansion happens inside the vectorized "
        "kernel, quadratic per cluster, never global); over-cap "
        "clusters are filtered out via the broadcast size join before "
        "the exchange.  Assignments come from the cached deterministic "
        "quantizer -- no clustering cost in the steady-state plan.",
    ),
    (
        "semdedup_pairs_bigk",
        "SemDeDup large-k scale path (r6): assignment routes through "
        "assign_by_broadcast_centroids -- a k-row broadcast codebook "
        "scored per row with the 1:k expansion collapsed by a "
        "map-side-combinable min(struct) aggregate BELOW the Exchange "
        "(partial_min pinned in tests/test_plans.py; a window here "
        "would shuffle N*k rows).  At fixture scale the centroids are "
        "the deterministic k=8 set so the plan is oracle-checked; "
        "above 10k vectors the sqrt(N) numpy-trained quantizer takes "
        "over and assignment switches to the Arrow/GEMM batch argmin "
        "(mapInPandas).  Downstream identical to semdedup_pairs.",
    ),
    (
        "substring_dup_stats",
        "Substring duplication: windows explode map-side into postings "
        "keyed by the 16-byte BINARY unhex(md5) window hash (r8: half "
        "the hex-string key width on the engine's largest shuffle); "
        "duplicated windows come from a groupBy on the hash; the "
        "mark-back join is 1:1 per posting (NO pair expansion, so "
        "boilerplate hot windows cost linear work); the interval-union "
        "sweep is a per-doc window function.  r8: both posting "
        "consumers share ONE exchange (not-null filters + the "
        "pruning-pinned count keep the subtrees canonical-identical, "
        "so AQE stage reuse fires -- one corpus scan+extract, not two) "
        "and the posting exchanges auto-size (2.7 GB sf10 spill -> 0).",
    ),
    (
        "substring_dedup_rewrite",
        "The rewrite pass: first occurrences ride the SAME groupBy "
        "that finds duplicates (min(struct) agg, no per-hash window "
        "sort) over the SAME reused posting exchange as the mark-join "
        "probe (r8); removal intervals merge with the running-max "
        "sweep (three Window ops share ONE doc-keyed sort); the text "
        "rebuild is an indexed filter/exists over broadcast-joined "
        "interval arrays -- native end-to-end.  sf10: 24.0 -> 18.7 s, "
        "shuffle write -56%.",
    ),
    (
        "bm25_eval_metrics",
        "Retrieval eval: the per-term BM25 frame is row-local after "
        "its slim checkpoint (one broadcast stats/df aggregate, no "
        "shuffle); the run builder is grouped_topk, a Partial "
        "WindowGroupLimit below its one exchange, so no per-term "
        "corpus-sized single-partition sort; run->qrels join is keyed "
        "1:1; DCG/MRR are one map-side-combined groupBy; only the "
        "ideal ranking windows over the qrels lists.",
    ),
    (
        "hybrid_eval_metrics",
        "r8: the TREC harness over the PRODUCTION RRF retriever.  The "
        "PRF query vectors (one per eval term = the lexical #1 doc's "
        "embedding) broadcast into a map-side |terms|x cosine "
        "expansion over the corpus embeddings; both arms and the "
        "fused run cut through grouped_topk; metrics reuse "
        "operators/ir_eval.py unchanged.",
    ),
    (
        "quartiles_per_flag_distributed",
        "Exact distributed percentiles: range-repartition by (key, "
        "value), P*K-row control plane, partition-local rank windows.  "
        "r8: a broadcast LeftSemi prunes the rank window's input to "
        "the target-containing (partition, key) slices only -- the "
        "driver locates each target rank's slice from the offsets it "
        "already holds, so the second full-data exchange+sort shrinks "
        "to keys x quantiles x <=2 slices.  No SinglePartition "
        "anywhere (asserted).",
    ),
    (
        "mixture_sample_det",
        "Deterministic mixture sampling (r10): the per-domain keep "
        "fractions are computed IN THE PLAN -- a map-side-combined "
        "counts aggregate (|domains| rows) joins the broadcast weight "
        "table, a one-row min(scale) broadcasts back, and the corpus "
        "joins the resulting |domains|-row fraction table by "
        "BroadcastHashJoin.  Selection is the portable Lehmer-LCG "
        "threshold: a pure codegen'd map over the fact side, which is "
        "never shuffled -- no driver collect, no RNG, the whole sample "
        "replayable as SQL.",
    ),
]


def main() -> None:
    from big_data_co2_emission_analysis_spark.plans.inspect import explain_formatted
    from big_data_co2_emission_analysis_spark.queries import all_queries
    from big_data_co2_emission_analysis_spark.session import get_session

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_session("plans")
    qs = all_queries()

    out = [
        "# PLANS — physical plans of the flagship queries",
        "",
        f"Generated by `python tools/dump_plans.py` at `{sf_dir}` "
        "(regenerate after planner-visible changes). These are the plan "
        "shapes `tests/test_plans.py` asserts; the commentary names the "
        "property that matters at 100 TB.",
        "",
    ]
    for name, commentary in SHOWCASE:
        plan = explain_formatted(qs[name].fn(spark, sf_dir))
        # keep the tree + scan details; drop the long per-node I/O lists
        tree, _, details = plan.partition("\n\n")
        keep = [
            blk
            for blk in details.split("\n\n")
            if "Scan parquet" in blk or "Exchange" in blk or "PushedFilters" in blk
        ]
        out += [f"## {name}", "", commentary, "", "```"]
        out += [tree.strip()]
        if keep:
            out += ["", "\n\n".join(keep).strip()]
        out += ["```", ""]
    with open(ROOT / "PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(SHOWCASE)} plans)")


if __name__ == "__main__":
    main()
