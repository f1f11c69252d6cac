"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Output contract (round-3 fix -- BENCH_r02 arrived front-truncated and
unparseable because the driver keeps only the ~2 KB TAIL of stdout and
the single line carrying 36 warm + 36 cold timings was 2.3 KB):

- The LAST stdout line is a COMPACT JSON under ~200 bytes:
  {"metric", "value", "unit", "sf", "queries": {...}} where "queries"
  carries only a few headline aggregates (count, slowest query), never
  the full per-query maps.
- The full per-query warm/cold maps go to BENCH_DETAIL.json next to
  this script, and each query is also echoed to stderr as it finishes.

Each query is timed as plan-build + full execution into a noop sink
(`df.write.format("noop")`), after a session warm-up action so JVM
startup isn't billed to the first query.  A noop write materializes
every column of every row, so map-only queries (simhash, doc_stats,
embedding_norms) can't be pruned down to a bare row count the way
`df.count()` let Catalyst do.

Each query runs once COLD (Catalyst analysis + whole-stage-codegen
compilation + JVM JIT -- one-time costs that measured 2-5x steady
state; scd2: 14.9s cold vs 2.9s steady at sf0.1), then
$SPARK_GRAFT_BENCH_ITERS (default 3) WARM iterations.  The headline
per-query number is the warm MEDIAN (round-4 fix: single-shot warm
numbers swung 2.3x round-over-round on unchanged code -- JIT/GC
interleaving noise -- so medians are the only comparable statistic);
all iterations plus the IQR go to BENCH_DETAIL.json under
"queries_iters" / "queries_iqr".  The warm iterations follow
`plans.metrics.warm_series`: a sweep (`session.release_pinned` plus a
JVM GC) before every timed run and after the last, so any
operator-internal persist or checkpoint (e.g. the banded-LSH shingle
base) is recomputed in each timed run -- warm means warm CODE, not
warm data.
"""

from __future__ import annotations

import json
import os
import platform
import statistics
import sys
from datetime import datetime, timezone
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    # relational core
    "pricing_summary",
    "region_revenue",
    "priority_revenue",
    "q3_shipping_priority",
    "q10_returned_customers",
    "q21_waiting_suppliers",
    # widest shapes of the full 22-archetype TPC-H suite: 8-way join
    # (q8), 5-way join + two-level agg (q9), left-join fan-out double
    # groupBy (q13)
    "q8_market_share",
    "q9_product_profit",
    "q13_customer_distribution",
    "customer_order_counts",
    "top_orders",
    "top_customers_per_segment",
    "rollup_flag_status",
    "distinct_parts_per_flag",
    # events / time
    "events_hourly_counts",
    "user_session_counts",
    "user_change",
    # windows / stats / percentiles -- the two SCALE paths for exact
    # and approximate percentiles; the built-in exact `percentile`
    # (quartiles_per_flag) stays registry-only because its per-group
    # reducer buffer is the documented anti-pattern, not the engine's
    # recommended cost (COVERAGE.md)
    "running_supplier_qty",
    "brand_price_stats",
    "approx_quartiles_per_flag",
    "quartiles_per_flag_distributed",
    # joins beyond equi
    "asof_click_before_purchase",
    "world_geo_revenue",
    # round-3 additions: MERGE upsert (full-outer key join + CASE) and
    # the time-series gap-fill family
    "merge_orders_upsert",
    "user_daily_gap_locf",
    "user_value_twa",
    "interval_overlap_attribution",
    # co-located (bucketed) join: table build is in warm-up, the timed
    # query shows the exchange-free join payoff
    "bucketed_priority_revenue",
    # SCD2 merge (anti-join + window re-chain) tracked round over round
    "scd2_customer_order_history",
    # partitioned fact + runtime partition pruning
    "dpp_urgent_order_revenue",
    # text / dedup
    "pii_redacted_docs",
    "doc_stats",
    "dedup_exact_groups",
    "top_tokens",
    "bm25_top_docs",
    "simhash_signatures",
    # near-dup mining: the custom banded-LSH operator is the engine's
    # scale path (minhash_near_dups, the pyspark.ml variant, stays in
    # queries() but is ~2x slower for identical output -- COVERAGE.md)
    "minhash_banded_near_dups",
    "ngram_jaccard_pairs",
    # vectors: exact baseline + the two persisted-index ANN paths
    # (index built once in warm-up, like the bucketed tables -- the
    # timed number is steady-state SEARCH, the build-once/search-many
    # claim measured)
    "knn_cosine_top10",
    "ann_ivf_persisted_top10",
    "ann_pq_top10",
    "embedding_norms",
    # flagship composition: quality gate -> fingerprint dedup -> packing
    "curated_corpus_manifest",
    # round-4 additions: one per new operator family -- bigram-LM
    # perplexity scoring, RRF hybrid retrieval, incremental cross-shard
    # dedup, SemDeDup (deterministic k-means + within-cluster prune),
    # substring-duplication coverage, deterministic logreg scoring
    "doc_lm_scores",
    "hybrid_rrf_top_docs",
    "incremental_shard_dedup",
    "semdedup_pairs",
    # round-6: the designated large-k scale path (broadcast-centroid
    # assignment; sqrt(N) quantizer above 10k vectors) tracked as its
    # own headline row -- at sf>=1 this is the configuration that keeps
    # the pair search real instead of cap-skipped (VERDICT r5 #1)
    "semdedup_pairs_bigk",
    "substring_dup_stats",
    "logreg_quality_scores",
    # round-7 additions: the substring-dedup REWRITE pass (the cut
    # substring_dup_stats only measured) and the TREC-style retrieval
    # eval harness over the BM25 ranker
    "substring_dedup_rewrite",
    "bm25_eval_metrics",
    # round-8 additions: the TREC harness over the PRODUCTION hybrid
    # retriever, and the six-stage curation pipeline (quality ->
    # P75 perplexity -> fingerprint dedup -> substring rewrite ->
    # temperature mixture -> packing)
    "hybrid_eval_metrics",
    "curated_corpus_v4",
    # round-9 additions: the deterministic-quantizer PQ search (the
    # value-verified twin of the rows-only numpy-PQ path) and the TREC
    # harness scoring exact vs IVF-det vs PQ-det retrieval side by side
    "ann_pq_det_top10",
    "ann_eval_metrics",
    # round-10 additions: the deterministic hash-threshold samplers
    # (pure-map Bernoulli manifest, per-stratum CASE thresholds, and
    # the in-plan mixture fractions -- the value-verified twins of the
    # rows-only RNG sampling paths)
    "sample_lineitem_det",
    "stratified_sample_det",
    "mixture_sample_det",
    # round-11 additions: the micro-batch paths join the bench (VERDICT
    # r10 #5 -- none of the 16 oracled streaming queries was benched, so
    # a regression in the incremental-dedup or stream-stream-join state
    # machinery was invisible).  Both run their stream to completion
    # inside the query builder (run_to_completion), so the timed number
    # covers source -> micro-batches -> sink; work sums per batch are
    # available through tools/isolate_measure.py like any other query.
    "streaming_incremental_dedup_bloom",
    "streaming_interval_join",
]


def main() -> None:
    from big_data_co2_emission_analysis_spark.plans.metrics import timed, warm_series
    from big_data_co2_emission_analysis_spark.queries import all_queries
    from big_data_co2_emission_analysis_spark.session import get_session

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]

    # Contention guard (r7 verdict: driver benches on a loaded host --
    # loadavg 6.68 at end -- whipsawed two watchlisted queries 2x on
    # byte-identical plans).  Sample loadavg BEFORE any Spark work; if
    # the host is already busy, wait bounded for it to drain, then run
    # anyway (the driver contract needs a bench line every round) but
    # stamp the run as contended so cross-round comparisons can discount
    # it instead of opening plan investigations.
    load_threshold = float(os.environ.get("SPARK_GRAFT_LOAD_THRESHOLD", "4.0"))
    max_wait = float(os.environ.get("SPARK_GRAFT_IDLE_WAIT_S", "120"))
    try:
        load_start = os.getloadavg()[0]
    except OSError:
        load_start = None
    waited = 0.0
    while (
        load_start is not None
        and load_start > load_threshold
        and waited < max_wait
    ):
        print(
            f"# host busy (loadavg {load_start:.2f} > {load_threshold}); "
            f"waiting for idle ({waited:.0f}/{max_wait:.0f}s)",
            file=sys.stderr,
        )
        time.sleep(10)
        waited += 10
        load_start = os.getloadavg()[0]
    contended = load_start is not None and load_start > load_threshold
    if contended:
        print(
            f"# WARNING: running contended (loadavg {load_start:.2f} after "
            f"{waited:.0f}s wait) -- timings are not comparable to "
            "idle-protocol rounds; byte metrics still are",
            file=sys.stderr,
        )

    spark = get_session("bench")
    # warm-up: JVM, codegen, and parquet file-index/footer reads off the
    # clock (limit(1) touches no data pages and caches nothing)
    spark.range(1000).selectExpr("sum(id)").collect()
    from big_data_co2_emission_analysis_spark.sources.readers import TABLE_NAMES

    for t in TABLE_NAMES:
        if t == "events":
            continue  # nanos-encoded; read through sources.readers.read_events
        spark.read.parquet(f"{sf_dir}/{t}.parquet").limit(1).count()

    # one-time index/table builds run off the clock (like a production
    # ingest job); the timed queries then measure steady-state reads
    from big_data_co2_emission_analysis_spark.queries.advanced import (
        ensure_bucketed_tables,
        ensure_partitioned_orders,
    )

    ensure_bucketed_tables(spark, sf_dir)
    ensure_partitioned_orders(spark, sf_dir)
    # ANN index builds (IVF cells + centroids, PQ codes + codebooks) are
    # one-time ingest jobs; run each query once so its index exists and
    # the timed runs below measure search-only
    from big_data_co2_emission_analysis_spark.queries.mlops import (
        ann_ivf_persisted_top10,
        ann_pq_top10,
    )

    ann_ivf_persisted_top10(spark, sf_dir).write.format("noop").mode("overwrite").save()
    ann_pq_top10(spark, sf_dir).write.format("noop").mode("overwrite").save()
    # deterministic-trainer caches (k-means assignments/centroids, logreg
    # weights) are the same build-once shape: train off the clock so
    # semdedup/IVF-det/scoring queries measure steady state
    from big_data_co2_emission_analysis_spark.queries.mlops import (
        _det_kmeans,
        _logreg_weights_cached,
    )

    _det_kmeans(spark, sf_dir)
    _logreg_weights_cached(spark, sf_dir)
    # the bigk quantizer (sqrt(N) sampled-numpy codebook above 10k
    # vectors) is a one-off build too: trigger its centroid cache so the
    # timed semdedup_pairs_bigk runs measure assignment + pair search
    from big_data_co2_emission_analysis_spark.queries.mlops import _bigk_assignments

    _bigk_assignments(spark, sf_dir)

    qs = all_queries()
    n_iters = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "3")))
    times: dict[str, float] = {}
    cold_times: dict[str, float] = {}
    iter_times: dict[str, list[float]] = {}
    iqrs: dict[str, float] = {}

    def run(name: str) -> None:
        df = qs[name].fn(spark, sf_dir)
        # noop sink: full materialization of all columns, nothing written
        df.write.format("noop").mode("overwrite").save()

    for name in HEADLINE:
        cold_times[name] = timed(lambda: run(name))
        iters = warm_series(spark, lambda: run(name), n_iters)
        iter_times[name] = iters
        times[name] = round(statistics.median(iters), 3)
        lo, hi = sorted(iters)[len(iters) // 4], sorted(iters)[-1 - len(iters) // 4]
        iqrs[name] = round(hi - lo, 3)
        print(
            f"# {name}: warm_median={times[name]:.3f}s iters={iters} cold={cold_times[name]:.3f}s",
            file=sys.stderr,
        )

    total = round(sum(times.values()), 3)
    # host/env fingerprint (VERDICT r6 #4): cross-round comparisons
    # must be able to tell a plan regression from a different/busier
    # session environment -- r6's driver run was a uniform ~11% above
    # the builder's committed run with zero plan changes.
    try:
        load1 = round(os.getloadavg()[0], 2)
    except OSError:
        load1 = None
    env = {
        "hostname": platform.node(),
        "platform": platform.platform(),
        "python": platform.python_version(),
        "cpus_visible": os.cpu_count(),
        "spark_cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
        "loadavg_1m_at_start": None if load_start is None else round(load_start, 2),
        "waited_for_idle_s": waited,
        "contended_at_start": contended,
        "loadavg_1m_at_end": load1,
        "utc": datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ"),
    }
    detail = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": times,
        "queries_cold": cold_times,
        "queries_iters": iter_times,
        "queries_iqr": iqrs,
        "warm_iters_per_query": n_iters,
        "sf": float(sf),
        "env": env,
    }
    # SPARK_GRAFT_DETAIL_OUT overrides the destination ("-" discards):
    # ad-hoc smoke runs on a hot machine must not clobber the committed
    # idle-protocol evidence (see PROFILE.md "machine-idle precondition").
    detail_path = os.environ.get("SPARK_GRAFT_DETAIL_OUT") or os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    if detail_path != "-":
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
    # full maps as an EARLIER stdout line (driver tail-truncates; the
    # parseable compact line must come last)
    print(json.dumps(detail))
    # keep "queries" in the documented {name: sec} shape but only the
    # slowest few entries so the line stays far under the tail capture
    slowest3 = sorted(times, key=times.get, reverse=True)[:3]
    compact = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "sf": float(sf),
        "n_queries": len(times),
        "queries": {k: times[k] for k in slowest3},
    }
    line = json.dumps(compact)
    if len(line) >= 1000:  # not assert: -O would strip the guard
        raise RuntimeError(
            f"final bench line must stay tail-parseable (<1000B), got {len(line)}B"
        )
    print(line)


if __name__ == "__main__":
    main()
