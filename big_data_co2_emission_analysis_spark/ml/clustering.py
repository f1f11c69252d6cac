"""K-means clustering pipeline (reference SURVEY.md section 2.11, M1-M6).

The reference's distinguishing capability: VectorAssembler ->
elbow-sweep model selection -> seeded KMeans fit -> transform ->
centroids -> per-cluster min/max label summary
(reference project-co2.py:34-76,119-132; BigData_Mayur.py:28-54).

Differences from the reference, on purpose:
- ``computeCost`` (deprecated since Spark 3.0; the reference's own
  comment at project-co2.py:49 notes it) is replaced by
  ``model.summary.trainingCost`` + ``ClusteringEvaluator`` silhouette
  (the evaluation path BigData_Mayur.py:42-46 demonstrates).
- The cluster-label string is a native expression, not a Python UDF
  (reference U1, project-co2.py:130-132 -> X3 form).
- Every fit pins ``solver="row"``, the solver ``auto`` picks here anyway.
  Spark 4.1's ``KMeans.preferBlockSolver`` estimates density from the
  *indices* of ``numNonZeros``' active entries instead of their counts,
  so ``auto`` chooses the row solver for any input with more rows than
  features -- but only after a Summarizer ``first()`` job (plus an AQE
  stage job) per fit.  Pinning it gives bit-identical costs and centers
  without that job; tests/test_clustering.py fails if a Spark upgrade
  makes ``auto`` choose differently.
"""

from __future__ import annotations

import threading
from collections.abc import Sequence
from dataclasses import dataclass
from multiprocessing.pool import ThreadPool

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def assemble_features(df: DataFrame, input_cols: list[str], output_col: str = "features") -> DataFrame:
    """M1: VectorAssembler (booleans auto-cast to 0/1 doubles, matching
    reference project-co2.py:36-39)."""
    from pyspark.ml.feature import VectorAssembler

    numeric = df
    for c in input_cols:
        if dict(df.dtypes)[c] == "boolean":
            numeric = numeric.withColumn(c, F.col(c).cast("double"))
    return VectorAssembler(inputCols=input_cols, outputCol=output_col).transform(numeric)


@dataclass
class ElbowPoint:
    k: int
    cost: float  # within-set sum of squared errors on the training set


def elbow_sweep(
    df: DataFrame,
    ks: Sequence[int] = range(2, 10),
    seed: int = 1,
    sample_fraction: float | None = 0.1,
    sample_seed: int = 42,
    features_col: str = "features",
) -> list[ElbowPoint]:
    """M2: the reference's model-selection loop (project-co2.py:44-59):
    for each k, fit on a seeded Bernoulli sample and record cost.

    The per-k fits are independent and each is a chain of small jobs, so
    they run concurrently: ``KMeans.fitMultiple`` over one param map per
    k, drained by ``min(len(ks), defaultParallelism)`` driver threads
    (the ``CrossValidator`` pattern).  Each thread target is wrapped in
    ``inheritable_thread_target``, so the caller's job group, local
    properties and tags reach every fit's jobs.  Costs are the same as
    sequential fits: every fit reads the one cached sample (not
    repartitioned -- k-means|| initialisation depends on partition
    indices) with the same seed.  The sample is drawn per partition
    (seed + partition index), so its rows depend on the partitioning:
    over ``co2.pipeline.load_clean``'s one-partition table the costs no
    longer depend on the core count or on how the CSV was split.  Points
    come back in the order of ``ks``.  If a fit raises, no further fit
    starts; the in-flight fits finish, the sample is released, and the
    first error is re-raised."""
    from pyspark.ml.clustering import KMeans
    from pyspark.util import inheritable_thread_target

    ks = list(ks)
    if not ks:
        return []
    train = df.sample(False, sample_fraction, seed=sample_seed) if sample_fraction else df
    train = train.cache()
    try:
        est = KMeans(seed=seed, featuresCol=features_col, solver="row")
        models = est.fitMultiple(train, [{est.k: k} for k in ks])
        failed = threading.Event()

        def fit_next():
            if failed.is_set():
                return None
            try:
                index, model = next(models)
            except BaseException:
                failed.set()
                raise
            return index, float(model.summary.trainingCost)

        task = inheritable_thread_target(df.sparkSession)(fit_next)
        costs: list[float | None] = [None] * len(ks)
        pool = ThreadPool(min(len(ks), df.sparkSession.sparkContext.defaultParallelism))
        try:
            for done in pool.imap_unordered(lambda f: f(), [task] * len(ks)):
                if done is not None:  # None: skipped after another fit failed
                    index, cost = done
                    costs[index] = cost
        finally:
            # in-flight fits end before the sample is released
            pool.close()
            pool.join()
        return [ElbowPoint(k=k, cost=c) for k, c in zip(ks, costs)]
    finally:
        train.unpersist()


def fit_kmeans(
    df: DataFrame,
    k: int = 5,
    seed: int = 1,
    features_col: str = "features",
    prediction_col: str = "cluster",
    sample_fraction: float | None = None,
    sample_seed: int = 42,
):
    """M3: final fit (reference k=5, seed=1, fit on a 10% sample at
    project-co2.py:62-65; pass ``sample_fraction=0.1`` to reproduce)."""
    from pyspark.ml.clustering import KMeans

    train = df.sample(False, sample_fraction, seed=sample_seed) if sample_fraction else df
    est = KMeans(k=k, seed=seed, featuresCol=features_col, predictionCol=prediction_col, solver="row")
    return est.fit(train)


def silhouette(predictions: DataFrame, prediction_col: str = "cluster", features_col: str = "features") -> float:
    """M6: squared-euclidean silhouette (reference BigData_Mayur.py:42-46)."""
    from pyspark.ml.evaluation import ClusteringEvaluator

    ev = ClusteringEvaluator(
        predictionCol=prediction_col, featuresCol=features_col, metricName="silhouette",
        distanceMeasure="squaredEuclidean",
    )
    return float(ev.evaluate(predictions))


def cluster_summary(
    assigned: DataFrame, value_col: str = "change", cluster_col: str = "cluster"
) -> DataFrame:
    """M5+A1+X3: per-cluster min/max of ``value_col`` plus the label
    string the reference builds in a Python UDF (project-co2.py:130-132)
    -- here a native decimal-format expression."""
    mn, mx = F.min(value_col).alias("min_change"), F.max(value_col).alias("max_change")
    return (
        assigned.groupBy(cluster_col)
        .agg(mn, mx)
        .select(
            cluster_col,
            "min_change",
            "max_change",
            F.concat(
                F.col("min_change").cast("decimal(18,3)").cast("string"),
                F.lit(" - "),
                F.col("max_change").cast("decimal(18,3)").cast("string"),
            ).alias("label"),
        )
        .orderBy(cluster_col)
    )
