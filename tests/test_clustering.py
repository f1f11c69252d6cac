"""Differential tests of the concurrent elbow sweep (SURVEY M2) against
sequential per-k KMeans fits on the same sample, on a small in-test
frame: the same costs in input order (bit for bit where the summation
order is fixed), the caller's job group reaching the fits' jobs, and the
cached sample released on success and on a failing fit."""

import numpy as np
import pytest

from big_data_co2_emission_analysis_spark.ml.clustering import ElbowPoint, assemble_features, elbow_sweep, fit_kmeans

SAMPLE_FRACTION, SAMPLE_SEED = 0.5, 42


def _frame(spark, partitions):
    rng = np.random.default_rng(7)
    centers = np.array([[0.0, 0.0], [5.0, 5.0], [0.0, 8.0], [9.0, 1.0]])
    pts = centers[rng.integers(0, len(centers), 600)] + rng.normal(0.0, 1.0, (600, 2))
    df = spark.createDataFrame([(float(x), float(y)) for x, y in pts], "x double, y double")
    return assemble_features(df.repartition(partitions), ["x", "y"]).select("features").cache()


@pytest.fixture(scope="module")
def feats(spark):
    df = _frame(spark, 4)
    yield df
    df.unpersist()


def _pinned(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _sequential(df, ks):
    from pyspark.ml.clustering import KMeans

    sample = df.sample(False, SAMPLE_FRACTION, seed=SAMPLE_SEED).cache()
    try:
        return [(k, float(KMeans(k=k, seed=1).fit(sample).summary.trainingCost)) for k in ks]
    finally:
        sample.unpersist()


def _sweep(df, ks):
    points = elbow_sweep(df, ks=ks, seed=1, sample_fraction=SAMPLE_FRACTION, sample_seed=SAMPLE_SEED)
    assert all(isinstance(p, ElbowPoint) for p in points)
    return [(p.k, p.cost) for p in points]


def test_costs_bit_identical_to_sequential_fits_in_input_order(spark):
    # One partition fixes the order in which KMeans adds up its
    # per-task costs, so equal work gives equal bits.
    df = _frame(spark, 1)
    try:
        ks = [4, 2, 3]
        assert _sweep(df, ks) == _sequential(df, ks)
    finally:
        df.unpersist()


def test_fit_kmeans_row_solver_bit_identical_to_auto(spark):
    # fit_kmeans pins the row solver that Spark's "auto" picks for more
    # rows than features, without auto's Summarizer job.  If a Spark
    # upgrade makes auto pick the block solver here, the bits differ.
    from pyspark.ml.clustering import KMeans

    df = _frame(spark, 1)
    try:
        model = fit_kmeans(df, k=5, seed=1, sample_fraction=SAMPLE_FRACTION, sample_seed=SAMPLE_SEED)
        auto = KMeans(k=5, seed=1).fit(df.sample(False, SAMPLE_FRACTION, seed=SAMPLE_SEED))
        assert model.summary.trainingCost == auto.summary.trainingCost
        assert [c.tolist() for c in model.clusterCenters()] == [c.tolist() for c in auto.clusterCenters()]
    finally:
        df.unpersist()


def test_costs_match_sequential_fits_multi_partition(feats):
    # KMeans sums its per-partition costs in task-completion order, so
    # even two sequential fits on several partitions can differ in the
    # last bit (1744.9278912944649 vs ...646 seen for k=3 here).
    ks = [4, 2, 3]
    got, expected = _sweep(feats, ks), _sequential(feats, ks)
    assert [k for k, _ in got] == ks
    assert [c for _, c in got] == pytest.approx([c for _, c in expected], rel=1e-12, abs=0.0)


def test_caller_job_group_covers_sweep_jobs(spark, feats):
    sc = spark.sparkContext
    before = _pinned(spark)
    sc.setJobGroup("elbow-sweep-test", "elbow sweep job group")
    try:
        elbow_sweep(feats, ks=[2, 3], sample_fraction=SAMPLE_FRACTION, sample_seed=SAMPLE_SEED)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert list(sc.statusTracker().getJobIdsForGroup("elbow-sweep-test"))
    assert _pinned(spark) == before


def test_failing_fit_raises_and_releases_sample(spark, feats):
    from pyspark.errors import IllegalArgumentException

    before = _pinned(spark)
    with pytest.raises(IllegalArgumentException):
        elbow_sweep(feats, ks=[2, 1], sample_fraction=SAMPLE_FRACTION, sample_seed=SAMPLE_SEED)
    assert _pinned(spark) == before
