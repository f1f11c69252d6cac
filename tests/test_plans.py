"""Plan-shape guardrails: assert pushdown, pruning, broadcast choice,
and top-k strategy survive refactors.  These are the properties that
decide 100 TB behavior; results alone can't catch their regression."""

from pyspark.sql import functions as F

from big_data_co2_emission_analysis_spark.plans.inspect import (
    assert_columns_pruned,
    assert_filter_pushed,
    codegen_stage_count,
    has_broadcast_join,
    has_take_ordered,
    pushed_filters,
)
from big_data_co2_emission_analysis_spark.queries.relational import (
    part_filter_isin,
    pricing_summary,
    region_revenue,
    top_orders,
)


def test_pricing_summary_pushdown_and_pruning(spark, sf_dir):
    df = pricing_summary(spark, sf_dir)
    # the shipdate predicate must reach the parquet scan
    assert_filter_pushed(df, "l_shipdate")
    # 7 of 11 lineitem columns read (the plan needs exactly 7)
    assert_columns_pruned(df, "l_quantity", max_cols=7)
    assert codegen_stage_count(df) >= 1


def test_isin_filter_pushed(spark, sf_dir):
    df = part_filter_isin(spark, sf_dir)
    filters = " ".join(pushed_filters(df))
    assert "p_brand" in filters and "p_size" in filters


def test_region_revenue_broadcasts_dims(spark, sf_dir):
    df = region_revenue(spark, sf_dir)
    assert has_broadcast_join(df)
    # orders scan must only read the join key + measure
    assert_columns_pruned(df, "o_custkey", max_cols=2)


def test_top_orders_uses_heap_not_global_sort(spark, sf_dir):
    assert has_take_ordered(top_orders(spark, sf_dir))


def test_semi_join_stays_semi(spark, sf_dir):
    """left_semi must not degrade into inner join + distinct."""
    from big_data_co2_emission_analysis_spark.plans.inspect import explain_formatted
    from big_data_co2_emission_analysis_spark.queries.relational import semi_join_segments

    plan = explain_formatted(semi_join_segments(spark, sf_dir))
    assert "LeftSemi" in plan


def test_asof_join_single_shuffle(spark, sf_dir):
    """The union+window as-of join must shuffle ONCE (on the window
    partition key), not per-side -- its whole point at scale."""
    from big_data_co2_emission_analysis_spark.operators.joins import as_of_join
    from big_data_co2_emission_analysis_spark.plans.inspect import explain_formatted
    from big_data_co2_emission_analysis_spark.sources.readers import read_events

    events = read_events(spark, sf_dir)
    purchases = events.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = events.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    joined = as_of_join(purchases, clicks, ts_col="ts", by_cols=["user_id"], value_cols=["value"])
    import re

    plan = explain_formatted(joined)
    n_shuffles = len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE))
    assert n_shuffles == 1, f"as-of join should shuffle once, saw {n_shuffles}"
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_asof_broadcast_never_shuffles_left(spark, sf_dir):
    """The broadcast as-of variant may shuffle only the (small) right
    side's groupBy; the left fact table stays map-side."""
    import re

    from big_data_co2_emission_analysis_spark.operators.joins import as_of_join_broadcast
    from big_data_co2_emission_analysis_spark.plans.inspect import explain_formatted
    from big_data_co2_emission_analysis_spark.sources.readers import read_events

    events = read_events(spark, sf_dir)
    purchases = events.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = events.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    joined = as_of_join_broadcast(purchases, clicks, ts_col="ts", by_cols=["user_id"], value_cols=["value"])
    plan = explain_formatted(joined)
    assert "BroadcastHashJoin" in plan
    n_shuffles = len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE))
    assert n_shuffles <= 1, f"only the right-side groupBy may shuffle, saw {n_shuffles}"


def test_range_join_banded_is_hash_join(spark, sf_dir):
    """Banding must turn the range predicate into an equi-join on the
    bucket key -- never a nested-loop/cartesian plan."""
    from big_data_co2_emission_analysis_spark.plans.inspect import explain_formatted
    from big_data_co2_emission_analysis_spark.queries.advanced import range_join_price_bands

    plan = explain_formatted(range_join_price_bands(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "Join" in plan


def test_minhash_banded_signature_stays_codegen(spark, sf_dir):
    """The k-minhash hot loop must be plain aggregate columns (codegen),
    not higher-order lambdas: no ArrayTransform inside the agg stage."""
    from big_data_co2_emission_analysis_spark.operators.dedup import minhash_banded_pairs
    from big_data_co2_emission_analysis_spark.plans.inspect import explain_formatted

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = explain_formatted(minhash_banded_pairs(docs, "doc_id", "text"))
    # the signature aggregation appears as 32 min() aggregate exprs
    assert plan.count("min(__v") == 32 or "min(__v0" in plan


def test_no_python_udf_in_relational_plans(spark, sf_dir):
    """Hot-path queries must stay JVM-side: no BatchEvalPython (row
    Python UDF) or ArrowEvalPython stages in any oracle-checked plan."""
    from big_data_co2_emission_analysis_spark.plans.inspect import explain_formatted
    from big_data_co2_emission_analysis_spark.queries import all_queries

    for name, qd in all_queries().items():
        # "udtf"-tagged queries exist to cover the Python UDTF API
        # surface itself (functions/udtfs.py) -- they are the documented
        # slow path, oracle-checked against the native implementation.
        if qd.oracle is None or "streaming" in qd.tags or "udtf" in qd.tags:
            continue
        plan = explain_formatted(qd.fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, f"{name} has a row-wise Python UDF"


def test_collect_metrics_quantifies_shuffle_efficiency(spark, sf_dir):
    """Runtime metrics must show partial aggregation working: the
    shuffle moves orders of magnitude less than the scan produces."""
    from big_data_co2_emission_analysis_spark.plans.metrics import collect_metrics
    from big_data_co2_emission_analysis_spark.queries.relational import pricing_summary

    m = collect_metrics(pricing_summary(spark, sf_dir))
    assert m["n_rows"] == 6
    assert m["output_rows_scan"] >= 5000  # full sf0.001 lineitem scan
    assert m["spill_bytes"] == 0
    # bytes_scanned is file-scan bytes only (parquet "size of files
    # read"), never shuffle traffic: a multi-KB scan vs a tiny shuffle
    assert m["bytes_scanned"] > 10_000
    # map-side combine: 6 groups x partitions cross the wire, not rows
    assert m["shuffle_bytes_written"] < m["output_rows_scan"]
    assert m["shuffle_bytes_written"] < m["bytes_scanned"]


def test_world_geo_join_broadcasts_fact_left_outer(spark, sf_dir):
    """The geo join must keep the (potentially wide) dim un-shuffled:
    LEFT OUTER BroadcastHashJoin with the per-country aggregate as the
    broadcast side."""
    from big_data_co2_emission_analysis_spark.queries import all_queries

    from big_data_co2_emission_analysis_spark.plans.inspect import explain_formatted

    df = all_queries()["world_geo_revenue"].fn(spark, sf_dir)
    plan = explain_formatted(df)
    assert "BroadcastHashJoin" in plan
    assert "LeftOuter" in plan
    assert "SortMergeJoin" not in plan


def test_bucketed_priority_revenue_join_is_exchange_free(spark, sf_dir):
    """The registry's bucketed join: both scans arrive pre-bucketed on
    the join key, so the SortMergeJoin itself has no Exchange under it
    (only the 5-row priority aggregate may shuffle).  At test scale the
    optimizer would rather broadcast the tiny orders side, so broadcast
    is disabled to expose the plan the join takes at 100 TB, where
    neither side fits in memory and bucketing is what saves the
    shuffle."""
    from big_data_co2_emission_analysis_spark.plans.inspect import explain_formatted
    from big_data_co2_emission_analysis_spark.queries.advanced import bucketed_priority_revenue

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = explain_formatted(bucketed_priority_revenue(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    import re

    nodes = dict(re.findall(r"^\((\d+)\) (\w+)", plan, re.MULTILINE))
    join_ids = [int(i) for i, n in nodes.items() if n == "SortMergeJoin"]
    exchange_ids = [int(i) for i, n in nodes.items() if n == "Exchange"]
    assert join_ids, plan[:400]
    # node numbering is bottom-up: every Exchange must sit ABOVE the
    # join (the aggregate/sort), none below it feeding the join
    assert all(e > max(join_ids) for e in exchange_ids), (nodes, plan[:600])
    assert "SelectedBucketsCount" in plan  # scans really are bucketed


def test_fuzzy_match_plan_is_blocked_not_cartesian(spark, sf_dir):
    """The fuzzy self-join must key on the blocking token: a hash-
    partitioned equi-join, never CartesianProduct / nested-loop over
    the corpus (the id inequality and distance check ride as residual
    filters)."""
    from big_data_co2_emission_analysis_spark.plans.inspect import explain_formatted
    from big_data_co2_emission_analysis_spark.queries import all_queries

    plan = explain_formatted(all_queries()["fuzzy_part_name_pairs"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan  # JVM expression, not a Python UDF
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_packing_plan_has_no_global_window(spark, sf_dir):
    """The packing prefix sum must never plan a partition-less Window
    (single-reducer global sort): the cumsum window partitions by the
    range-partition id, and the only global ordering is the
    RangePartitioning exchange."""
    from big_data_co2_emission_analysis_spark.operators.packing import concat_split_pack
    from big_data_co2_emission_analysis_spark.plans.inspect import explain_formatted

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").selectExpr(
        "doc_id", "n_chars as n_tokens"
    )
    # materialize=False: the default eagerly checkpoints (truncating
    # the plan to a scan of the materialized RDD); the lazy mode
    # exposes the full pipeline for inspection
    plan = explain_formatted(
        concat_split_pack(docs, "doc_id", "n_tokens", 512, materialize=False)
    )
    assert "rangepartitioning" in plan.lower()
    import re

    # every Window node must carry a partition spec (windowspecdefinition
    # with a partitionBy argument -> "_pid#" appears in its spec)
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "_pid" in spec, f"global (partition-less) window found: {spec}"


def test_snapshot_diff_plan_single_join_no_extra_shuffle(spark, sf_dir):
    """Snapshot diff = exactly one FullOuter join on the key; the
    classification is a pure projection (no aggregate, no second
    shuffle before the join output)."""
    from big_data_co2_emission_analysis_spark.operators.diff import snapshot_diff
    from big_data_co2_emission_analysis_spark.plans.inspect import explain_formatted

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    old = orders.select("o_orderkey", "o_totalprice")
    new = orders.select("o_orderkey", (F.col("o_totalprice") * 1.1).alias("o_totalprice"))
    plan = explain_formatted(snapshot_diff(old, new, ["o_orderkey"], ["o_totalprice"]))
    assert plan.count("Join type: FullOuter") == 1
    assert "CartesianProduct" not in plan


def test_epoch_shuffle_plan_is_range_partitioned_sort(spark, sf_dir):
    """The epoch permutation is a scalable global sort: a
    RangePartitioning exchange + local Sort, with no Window and no
    single-partition coalesce."""
    from big_data_co2_emission_analysis_spark.operators.sampling import epoch_shuffle
    from big_data_co2_emission_analysis_spark.plans.inspect import explain_formatted

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    plan = explain_formatted(epoch_shuffle(docs, "doc_id", 3))
    assert "rangepartitioning" in plan.lower()
    assert "Window" not in plan


def test_observe_quality_metrics_piggyback_on_the_job(spark, sf_dir):
    """df.observe computes aggregates inside the consuming job (no
    second scan); values must match an explicit aggregation."""
    from big_data_co2_emission_analysis_spark.plans.metrics import observe_quality

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    observed, handle = observe_quality(
        li,
        rows=F.count(F.lit(1)),
        null_qty=F.count_if(F.col("l_quantity").isNull()),
        max_price=F.max("l_extendedprice"),
    )
    observed.write.format("noop").mode("overwrite").save()
    got = handle.get()
    assert got["rows"] == li.count()
    assert got["null_qty"] == 0
    assert got["max_price"] == li.agg(F.max("l_extendedprice")).first()[0]


def test_dpp_prunes_fact_partitions_at_runtime(spark, sf_dir):
    """The urgent-priority star join over the partitioned orders copy
    must carry a dynamic-pruning subquery on the fact scan: the dim's
    `urgent` filter can't prune statically, so Catalyst injects the
    runtime partition filter (the 100 TB fact-scan saver)."""
    from big_data_co2_emission_analysis_spark.plans.inspect import explain_formatted
    from big_data_co2_emission_analysis_spark.queries.advanced import (
        dpp_urgent_order_revenue,
    )

    plan = explain_formatted(dpp_urgent_order_revenue(spark, sf_dir))
    assert "dynamicpruning" in plan.lower(), plan


def test_runtime_bloom_filter_prunes_shuffle_join_probe(spark, sf_dir):
    """Runtime filter insertion: with a selective filter on one side of
    a shuffle join, Catalyst plants a bloom_filter_agg subquery on the
    creation side and a might_contain probe filter on the application
    side -- rows that can't join die before the exchange.  Thresholds
    are lowered to fixture scale (production defaults: 10 MB creation /
    10 GB application)."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        # force the shuffle-join regime the filter exists for
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            "o_orderpriority = '1-URGENT' AND o_totalprice > 350000"
        )
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        plan = li.join(orders, li.l_orderkey == orders.o_orderkey)._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_splits_skewed_join_partitions(spark):
    """SCALING.md claims AQE handles skewed joins; pin it: with ~90% of
    left rows on one key and thresholds scaled to fixture size, the
    executed SortMergeJoin must report skew=true (the hot partition was
    split across tasks instead of landing on one reducer).  The
    consumer is a partial-aggregation sum -- a downstream operator that
    REQUIRES the join's hash partitioning (e.g. groupBy on the join
    key) legitimately suppresses the split, because splitting would
    break the required distribution."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(400_000).select(
            (F.lit(1) - (F.col("id") % 10 == 0).cast("int")).alias("k"),
            F.col("id").alias("p"),
        )
        right = spark.createDataFrame([(0, "d"), (1, "d")], "k int, a string")
        j = left.join(right, "k").agg(F.sum("p").alias("s"))
        j.collect()  # same Dataset: its own AQE plan must have executed
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:3000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_substring_posting_exchange_is_reused(spark, sf_dir):
    """The substring family's posting stream (the engine's largest
    shuffle at scale) has two consumers -- the duplicated-window
    aggregate and the mark-join probe.  The operators are written so
    both subtrees canonicalize identically (not-null filters in
    window_postings, the pruning-pinned count in duplicated_windows):
    AQE must materialize the posting exchange ONCE and reuse it, not
    re-scan + re-extract + re-shuffle the corpus per consumer
    (measured at sf10: reuse is worth ~25-30% of either query)."""
    from big_data_co2_emission_analysis_spark.operators.substrings import (
        duplicated_span_stats,
        substring_dedup_rewrite,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    for frame in (
        duplicated_span_stats(docs, k=5, agg_partitions=8),
        substring_dedup_rewrite(docs, k=5, agg_partitions=8),
    ):
        frame.collect()  # same Dataset: its own AQE plan must be final
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "Reused" in plan, plan[:4000]


#: oracle-checked queries allowed to plan a BroadcastNestedLoopJoin --
#: every entry is a BROADCAST-SCALAR join (build side is one row or a
#: tiny fixed set: the NLJ degenerates to a per-row filter, the
#: idiomatic Spark form of a scalar subquery) or a documented exact
#: baseline.  Anything NOT listed that plans an NLJ is a regression.
_NLJ_WHITELIST = {
    "above_avg_balance",      # 1-row global-average build side
    "tfidf_top_terms",        # 1-row corpus-size scalar
    "q11_important_parts",    # TPC-H Q11 scalar threshold subquery
    "q22_sales_opportunity",  # TPC-H Q22 scalar average subquery
    "knn_cosine_top10",       # documented exact baseline: 5-query broadcast set
    "knn_bruteforce_multi",   # same 5-query broadcast exact baseline (multi-query)
    "ann_lsh_recall",         # recall metric joins the same broadcast exact baseline
    "hybrid_rrf_top_docs",    # 1-row scalar + 1-query broadcast semantic arm
    "ann_ivf_det_top10",      # 8-row broadcast centroid probe (5-query set)
    "bm25_top_docs",          # 1-row corpus (N, avgdl) scalar build side
    "lineitem_price_histogram",  # 1-row min/max bounds build side
    "event_funnel_counts",    # three 1-row stage-count scalars joined
    "contamination_check_bloom",  # 1-row broadcast bloom-bitmap build side
    "doc_lm_scores",          # 1-row vocabulary-size scalar build side
    "lm_perplexity_outliers",  # same 1-row vocabulary scalar
    "rag_chunk_retrieval",    # 1-row broadcast query-embedding build side
    # k-row broadcast centroid codebook: the 1:k scoring expansion is
    # the designed IVF/quantizer-assignment shape (ann_ivf_det_top10
    # precedent); map-side min(struct) collapses it before the Exchange
    "semdedup_pairs_bigk",
    "semdedup_bigk_cluster_stats",
    # r7: bins-row spine + two 1-row totals broadcast into the
    # groups x bins PSI arithmetic -- bounded build sides by design
    "quality_psi_by_source",
    # r7: same 1-row corpus (N, avgdl) scalar as bm25_top_docs
    "bm25_eval_metrics",
    # r7: 1-row grand-total and weight-sum scalars broadcast into the
    # |domains|-row budget table
    "temperature_mixture_manifest",
    # r8: |terms|-row (6) broadcast PRF query-vector set expanding the
    # corpus embeddings map-side -- the multi-query twin of
    # rag_chunk_retrieval's 1-row pattern
    "hybrid_eval_metrics",
    # r8: the 1-row exact-P75 perplexity threshold, the 1-row
    # vocabulary scalar (LM stage inside) and temperature_mixture_
    # manifest's 1-row mixture scalars, composed in one pipeline
    "curated_corpus_v4",
    # ADC table build: eval queries (bounded query set) CROSS the PQ
    # codebook (n_subspaces x k entries, broadcast constants) -- both
    # sides control-plane-sized, never corpus-scale
    "ann_pq_det_top10",
    "ann_eval_metrics",
    # r10: 1-row min(scale) scalar broadcast into the |domains|-row
    # fraction table (temperature_mixture_manifest's exact pattern);
    # the corpus side joins the fraction table by BroadcastHashJoin
    "mixture_sample_det",
    # r11: the exact arm of the det-IVF recall harness is
    # brute_force_topk's documented baseline shape -- the 5-row query
    # set broadcast into a map-side cosine expansion (the
    # knn_bruteforce_multi pattern; the IVF arm itself is cell-pruned)
    "ann_ivf_det_recall",
}


def test_no_cartesian_or_nested_loop_in_oracle_plans(spark, sf_dir):
    """Blanket scale-killer guard over the whole registry: no
    oracle-checked plan may contain a CartesianProduct, and any
    BroadcastNestedLoopJoin must be one of the whitelisted
    broadcast-scalar patterns above."""
    from big_data_co2_emission_analysis_spark.plans.inspect import explain_formatted
    from big_data_co2_emission_analysis_spark.queries import all_queries

    for name, qd in all_queries().items():
        if qd.oracle is None or "streaming" in qd.tags:
            continue
        plan = explain_formatted(qd.fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
        if name not in _NLJ_WHITELIST:
            assert "BroadcastNestedLoopJoin" not in plan, f"{name} plans a nested-loop join"


def test_broadcast_centroid_assignment_aggregates_map_side(spark, sf_dir):
    """assign_by_broadcast_centroids must pick the min via a partial
    (map-side-combinable) aggregate, NOT a window: the Exchange may
    carry only ~N partially-aggregated rows, never the N*k expansion
    (VERDICT r4 #1 -- at SemDeDup's 50k-cell quantizer scale a window
    here shuffles 50,000x the needed volume)."""
    from big_data_co2_emission_analysis_spark.operators.semdedup import (
        assign_by_broadcast_centroids,
    )
    from big_data_co2_emission_analysis_spark.plans.inspect import explain_formatted

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(100)
    asg = assign_by_broadcast_centroids(
        emb, [[0.0] * 8, [1.0] * 8, [0.5] * 8]
    )
    plan = explain_formatted(asg)
    assert "Window" not in plan, "min-selection regressed to a window"
    assert "partial_min" in plan, "no map-side partial aggregation below the Exchange"


def test_pinned_count_survives_optimizer(spark):
    """Direct unit canary for plans/pinning.py (Spark-upgrade risk).

    The pin depends on Catalyst having NO simplification rule for
    ``pmod(xxhash64(...), 1) = 0`` -- verified on Spark 4.1.2.  If a
    future Spark folds it, column pruning drops the pinned columns, the
    substring posting subtrees stop canonicalizing equal, and the
    corpus-sized exchange is paid twice (values stay correct, ~25-56%
    of substring_dup_stats/substring_dedup_rewrite wall-clock returns).
    This test pinpoints that regression in seconds: the pinned column
    must survive into the optimized aggregate, the unpinned control
    must NOT, and the pin must stay value-transparent (== count(*))."""
    from pyspark.sql import functions as F

    from big_data_co2_emission_analysis_spark.plans.pinning import pinned_count

    df = spark.createDataFrame([(1, "a"), (2, "b"), (1, "c")], ["k", "v"])

    pinned = df.groupBy("k").agg(pinned_count(["v"]).alias("n"))
    opt = pinned._jdf.queryExecution().optimizedPlan().toString()
    assert "xxhash64(v" in opt, (
        f"pinned column pruned from the optimized aggregate -- Catalyst now "
        f"folds pmod(x, 1) = 0 (Spark upgrade?); plan:\n{opt}"
    )

    plain = df.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    opt_plain = plain._jdf.queryExecution().optimizedPlan().toString()
    assert "xxhash64" not in opt_plain, "control plan unexpectedly references the probe hash"

    assert sorted(map(tuple, pinned.collect())) == sorted(map(tuple, plain.collect()))
