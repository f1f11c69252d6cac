"""Profiling operators (operators/profiling.py)."""

from __future__ import annotations

import pytest

from big_data_co2_emission_analysis_spark.operators.profiling import (
    column_profile,
    key_skew_report,
    numeric_histogram,
)


@pytest.fixture()
def frame(spark):
    return spark.createDataFrame(
        [
            (1, "a", 10.0),
            (2, "a", 20.0),
            (3, None, 30.0),
            (4, "b", None),
            (5, "a", 10.0),
        ],
        "id long, cat string, val double",
    )


def test_column_profile_values(frame):
    got = {r["column"]: r for r in column_profile(frame, ["cat", "val"]).collect()}
    cat = got["cat"]
    assert (cat["n_non_null"], cat["n_null"], cat["n_distinct"]) == (4, 1, 2)
    assert (cat["min_value"], cat["max_value"]) == ("a", "b")
    val = got["val"]
    assert (val["n_non_null"], val["n_null"], val["n_distinct"]) == (4, 1, 3)
    assert float(val["min_value"]) == 10.0 and float(val["max_value"]) == 30.0


def test_column_profile_single_scan(frame):
    """All columns profile in ONE pass -- the plan reads the source once."""
    from big_data_co2_emission_analysis_spark.plans.inspect import explain_formatted

    tree = explain_formatted(column_profile(frame, ["id", "cat", "val"])).split("\n\n")[0]
    assert tree.count("Scan ") == 1


def test_histogram_buckets_and_edges(spark):
    df = spark.createDataFrame([(float(v),) for v in range(100)], "x double")
    rows = numeric_histogram(df, "x", n_buckets=10).collect()
    assert [r["bucket"] for r in rows] == list(range(10))
    assert sum(r["n"] for r in rows) == 100
    # v=99 (the max) closes into the last bucket, not an 11th
    assert rows[-1]["n"] == 10
    assert rows[0]["lo"] == 0.0 and rows[-1]["hi"] == 99.0


def test_histogram_degenerate_single_value(spark):
    df = spark.createDataFrame([(5.0,), (5.0,), (None,)], "x double")
    rows = numeric_histogram(df, "x", n_buckets=4).collect()
    assert len(rows) == 1
    assert rows[0]["bucket"] == 0 and rows[0]["n"] == 2  # nulls excluded
    with pytest.raises(ValueError, match="n_buckets"):
        numeric_histogram(df, "x", n_buckets=0)


def test_skew_report_hand_computed(spark):
    rows = [("hot", i) for i in range(90)] + [("c1", 0), ("c2", 0), ("c3", 0)]
    df = spark.createDataFrame(rows, "k string, v long")
    r = key_skew_report(df, ["k"]).collect()[0]
    assert r["total_rows"] == 93 and r["n_keys"] == 4
    assert r["max_key_rows"] == 90
    assert r["mean_key_rows"] == pytest.approx(93 / 4)
    assert r["skew_ratio"] == pytest.approx(90 * 4 / 93)
    assert r["top_key"] == "hot"


def test_skew_report_tie_breaks_on_key(spark):
    df = spark.createDataFrame([("a", 1), ("b", 1)], "k string, v long")
    assert key_skew_report(df, ["k"]).collect()[0]["top_key"] == "b"


def test_auto_salted_join_decides_from_measured_skew(spark):
    """Below the threshold: plain join (no __salt machinery, no
    right-side explode). Above: salted, and results equal the plain
    join either way."""
    from big_data_co2_emission_analysis_spark.operators.joins import auto_salted_join
    from big_data_co2_emission_analysis_spark.plans.inspect import explain_formatted

    uniform = spark.createDataFrame(
        [(i % 10, i) for i in range(100)], "k long, v long"
    )
    hot = spark.createDataFrame(
        [(0, i) for i in range(95)] + [(j, 0) for j in range(1, 6)],
        "k long, v long",
    )
    dim = spark.createDataFrame([(i, f"d{i}") for i in range(10)], "k long, name string")

    plain_plan = explain_formatted(auto_salted_join(uniform, dim, ["k"]))
    assert "Generate" not in plain_plan  # no explode -> not salted

    salted_plan = explain_formatted(auto_salted_join(hot, dim, ["k"]))
    assert "Generate" in salted_plan  # explode of the salt sequence

    want = {tuple(r) for r in hot.join(dim, "k").collect()}
    got = {tuple(r) for r in auto_salted_join(hot, dim, ["k"]).collect()}
    assert got == want


def test_column_profile_approx_mode(frame):
    """approx_distinct: same frame shape, ndv within HLL++ tolerance,
    and the plan has no Expand (the exact multi-distinct rewrite)."""
    from big_data_co2_emission_analysis_spark.plans.inspect import explain_formatted

    exact = {r["column"]: r for r in column_profile(frame, ["cat", "val"]).collect()}
    approx = {
        r["column"]: r
        for r in column_profile(frame, ["cat", "val"], approx_distinct=True).collect()
    }
    for c in exact:
        assert approx[c]["n_non_null"] == exact[c]["n_non_null"]
        assert abs(approx[c]["n_distinct"] - exact[c]["n_distinct"]) <= max(
            1, int(0.1 * exact[c]["n_distinct"])
        )
    tree = explain_formatted(
        column_profile(frame, ["id", "cat", "val"], approx_distinct=True)
    ).split("\n\n")[0]
    assert "Expand" not in tree
    exact_tree = explain_formatted(column_profile(frame, ["id", "cat", "val"])).split("\n\n")[0]
    assert "Expand" in exact_tree  # the cost approx mode avoids


def test_auto_salted_join_probe_is_sampled_and_memoized(spark):
    """VERDICT r4 #5: the skew probe (a) samples above the row floor,
    (b) falls back to the exact probe on tiny inputs, and (c) memoizes
    the measured ratio under the left side's semanticHash so repeated
    joins of the same lineage pay the probe once."""
    from big_data_co2_emission_analysis_spark.operators import joins
    from big_data_co2_emission_analysis_spark.operators.joins import auto_salted_join
    from pyspark.sql import functions as F

    joins._PROBE_RATIO_CACHE.clear()

    # tiny input: sampled probe lands under the floor -> exact fallback
    # still decides correctly (plain join, values right)
    uniform = spark.createDataFrame([(i % 10, i) for i in range(100)], "k long, v long")
    dim = spark.createDataFrame([(i, f"d{i}") for i in range(10)], "k long, name string")
    got = {tuple(r) for r in auto_salted_join(uniform, dim, ["k"]).collect()}
    want = {tuple(r) for r in uniform.join(dim, "k").collect()}
    assert got == want
    assert len(joins._PROBE_RATIO_CACHE) == 1

    # same lineage again: cache hit, no new entry
    auto_salted_join(uniform, dim, ["k"])
    assert len(joins._PROBE_RATIO_CACHE) == 1

    # large-enough input: sampled probe is trusted (one entry added)
    # and a planted 60%-hot key still forces salting off the sample.
    # 400k rows so the expected sample (20k at f=0.05) sits comfortably
    # ABOVE the 10k floor -- at 200k the expectation was exactly the
    # floor and half of runs silently took the exact-fallback path
    # instead of the sampled-trusted branch this case documents.
    hot = spark.range(400_000).select(
        F.when(F.col("id") % 5 < 3, F.lit(0)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("v"),
    )
    from big_data_co2_emission_analysis_spark.plans.inspect import explain_formatted

    dim2 = spark.range(50).select(F.col("id").alias("k"), F.col("id").alias("name"))
    plan = explain_formatted(auto_salted_join(hot, dim2, ["k"]))
    assert "Generate" in plan  # salted: explode of the salt sequence
    assert len(joins._PROBE_RATIO_CACHE) == 2

    # reuse_probe=False bypasses the cache (entry count unchanged,
    # decision still correct)
    plan2 = explain_formatted(auto_salted_join(hot, dim2, ["k"], reuse_probe=False))
    assert "Generate" in plan2
    assert len(joins._PROBE_RATIO_CACHE) == 2


def test_auto_salted_join_uniform_low_multiplicity_not_salted(spark):
    """ADVICE r5: 20 rows/key at f=0.05 puts ~Poisson(1) counts in the
    sample; the max over 25k keys is tail luck (~8) and the naive
    sampled ratio clears the threshold with ZERO true skew.  The
    concentration guard (sampled max_key_rows < 50 with an immaterial
    true-max bound) must decide PLAIN -- no salt explode, no right-side
    inflation -- and must do so without falling back to the exact probe
    (which would re-pay the full scan the sampling exists to avoid)."""
    from pyspark.sql import functions as F

    from big_data_co2_emission_analysis_spark.operators import joins
    from big_data_co2_emission_analysis_spark.operators.joins import auto_salted_join
    from big_data_co2_emission_analysis_spark.plans.inspect import explain_formatted

    joins._PROBE_RATIO_CACHE.clear()
    # 500k rows, 25k keys x 20 rows: perfectly uniform, low multiplicity
    uniform = spark.range(500_000).select(
        (F.col("id") % 25_000).alias("k"), F.col("id").alias("v")
    )
    dim = spark.range(25_000).select(F.col("id").alias("k"), F.col("id").alias("name"))
    plan = explain_formatted(auto_salted_join(uniform, dim, ["k"]))
    assert "Generate" not in plan  # plain join: no salt-sequence explode
    assert joins._PROBE_RATIO_CACHE  # decided (and memoized) off the sample


def test_collect_metrics_all_jobs_sees_through_checkpoints(spark, sf_dir, tmp_path):
    """The r10 attribution fix: a query whose heavy subtree hides
    behind an eager localCheckpoint must still report its real scan --
    the final-plan walker sees only the LogicalRDD (the 'exposes 9 scan
    rows / 0 bytes' bug), the all-jobs stage sum must not."""
    from pyspark.sql import functions as F

    from big_data_co2_emission_analysis_spark.plans.metrics import (
        collect_metrics,
        collect_metrics_all_jobs,
    )

    src = f"{sf_dir}/lineitem.parquet"

    def q():
        return (
            spark.read.parquet(src)
            .groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
            .orderBy("l_returnflag")
        )

    plan_only = collect_metrics(q())
    # thunk form: the eager checkpoint runs at BUILD time, so the
    # watermark must be recorded before the build, not after
    all_jobs = collect_metrics_all_jobs(q, spark=spark)
    assert all_jobs["n_rows"] == plan_only["n_rows"] > 0
    # the final plan hides the scan behind the checkpoint boundary...
    assert plan_only.get("bytes_scanned", 0) == 0
    # ...the stage sum does not, and rows cover the full table
    n_lineitem = spark.read.parquet(src).count()
    assert all_jobs["bytes_scanned"] > 0
    assert all_jobs["output_rows_scan"] >= n_lineitem


def test_ledger_holds_exactly_the_thunks_jobs_and_stages(spark):
    """The ledger attributes by job/stage id: a job run before the call
    is not in it, a job the thunk runs while BUILDING its frame (an
    eager localCheckpoint) is."""
    from pyspark.sql import functions as F

    from big_data_co2_emission_analysis_spark.plans.metrics import _ledger
    from big_data_co2_emission_analysis_spark.session import release_pinned

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    tracker = spark.sparkContext.statusTracker()
    spark.range(100).groupBy((F.col("id") % 3).alias("k")).count().collect()
    before_job = int(dag.nextJobId()) - 1
    j0 = int(dag.nextJobId())

    def thunk():
        cp = spark.range(1000).repartition(4).localCheckpoint(eager=True)
        build_job = int(dag.nextJobId()) - 1
        return build_job, cp.groupBy((F.col("id") % 7).alias("k")).count().collect()

    (build_job, rows), jobs, stages = _ledger(spark, thunk)
    j1 = int(dag.nextJobId())
    release_pinned(spark)
    assert len(rows) == 7
    assert [j["jobId"] for j in jobs] == list(range(j0, j1))
    assert j0 <= build_job < j1
    assert before_job not in {j["jobId"] for j in jobs}
    own_stages = {sid for j in jobs for sid in j["stageIds"]}
    stage_ids = [s["stageId"] for s in stages]
    assert len(stage_ids) == len(set(stage_ids)) == sum(j["numCompletedStages"] for j in jobs)
    assert set(stage_ids) <= own_stages
    assert not set(stage_ids) & set(tracker.getJobInfo(before_job).stageIds)
    build_stages = set(next(j for j in jobs if j["jobId"] == build_job)["stageIds"])
    assert build_stages & set(stage_ids)  # the build-time checkpoint's work is counted


def test_warm_series_sweeps_before_every_run(spark):
    """The warm protocol: pinned blocks made before the series are
    released before the first timed run, every run starts with no
    persistent RDD, and each sweep forces a JVM GC."""
    from big_data_co2_emission_analysis_spark.plans.metrics import warm_series

    jsc = spark.sparkContext._jsc
    gc_beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()

    def gc_count() -> int:
        return sum(max(0, int(b.getCollectionCount())) for b in gc_beans)

    spark.range(100).localCheckpoint(eager=True)
    assert jsc.getPersistentRDDs().size() >= 1
    pinned_at_start = []

    def run():
        pinned_at_start.append(int(jsc.getPersistentRDDs().size()))
        spark.range(1000).localCheckpoint(eager=True).count()  # pins a block

    gcs = gc_count()
    series = warm_series(spark, run, 3)
    assert pinned_at_start == [0, 0, 0]
    assert len(series) == 3 and all(t >= 0 for t in series)
    assert jsc.getPersistentRDDs().size() == 0  # the final sweep
    assert gc_count() - gcs >= 4


def test_collect_metrics_per_batch_rows_partition_the_ledger(spark, tmp_path):
    """One row per micro-batch id (plus -1 for untagged work); the
    per-batch stage counts sum to the whole call's ledger."""
    from pyspark.sql import functions as F

    from big_data_co2_emission_analysis_spark.plans.metrics import (
        _ledger,
        collect_metrics_per_batch,
    )
    from big_data_co2_emission_analysis_spark.session import release_pinned
    from big_data_co2_emission_analysis_spark.streaming.windows import run_to_completion

    src = str(tmp_path / "src")
    for i in range(3):
        spark.range(i * 100, (i + 1) * 100).coalesce(1).write.mode("append").parquet(src)
    progress: list = []

    def thunk():
        stream = spark.readStream.schema("id long").option("maxFilesPerTrigger", 1).parquet(src)
        agg = stream.groupBy((F.col("id") % 5).alias("k")).count()
        return run_to_completion(agg, "complete", progress_out=progress).count()

    (n_keys, batches), _, stages = _ledger(spark, lambda: collect_metrics_per_batch(thunk, spark))
    release_pinned(spark)
    assert n_keys == 5
    assert set(batches) - {-1} == {p["batchId"] for p in progress} == {0, 1, 2}
    assert sum(b["n_stages"] for b in batches.values()) == len(stages)
    assert sum(b["output_rows_scan"] for b in batches.values()) >= 300
