"""Faithful re-implementation of the reference CO2 pipeline
(reference project-co2.py:79-228), Spark-first.

Same semantics, different engineering:

- Explicit schema instead of inferSchema (no second pass over the data;
  reference project-co2.py:87).
- The derived table is cached once before the ~10 downstream actions;
  the reference re-executes the full CSV lineage per action
  (reference project-co2.py:123-124,187-226 -- SURVEY.md section 4
  calls this out as the single biggest practical fix).
- The cached table is ONE partition when the CSV is small (at most
  ``_ONE_PARTITION_MAX_BYTES``, 32 MiB): a few hundred countries is what the reference runs on
  ``SparkContext("local")`` (project-co2.py:80).  Every aggregate, sort
  and MLlib summary downstream then plans no exchange, and the seeded
  k-means sample no longer depends on how many splits the file got.
  Above that the file's own partitioning is kept (see :func:`load_clean`
  for the crossover).
- The `num_increased` copy-paste bug (reference project-co2.py:211
  counts the *reduced* side) is implemented fixed, as the submission
  variant does.
- The cluster-label Python UDF (reference project-co2.py:130-132) is a
  native expression (ml.clustering.cluster_summary).

Golden invariants (SURVEY.md section 5.2, re-derived from the CSV) are
asserted in tests/test_co2_golden.py: 264 -> 244 rows; 87 reduced / 157
increased; sums -148.5387 / +126.4713 / -22.0674; fixed top-3 answers.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ml.clustering import assemble_features, cluster_summary, fit_kmeans, silhouette
from ..sources.readers import read_co2_csv, table_nbytes

REFERENCE_CSV = "/root/reference/co2-dataset-edited.csv"
BASE_YEAR, TARGET_YEAR = "2004", "2014"
COMPARISON_COUNTRIES = ["Germany", "United States", "France", "China", "Sweden"]


def preprocess(df: DataFrame) -> DataFrame:
    """Reference preprocessing() (project-co2.py:22-29): drop all-null
    rows, rows null in both years, then any-null rows on the 4-column
    projection.  264 -> 244 rows on the reference CSV.

    The two `na.drop("all")` calls are redundant before the any-drop
    (the submission variant comments them out) but kept for semantic
    parity; Catalyst folds the three filters into one scan predicate.
    """
    projected = df.select("Country Name", "Country Code", BASE_YEAR, TARGET_YEAR)
    return (
        projected.na.drop(how="all")
        .na.drop(how="all", subset=[BASE_YEAR, TARGET_YEAR])
        .na.drop(how="any")
    )


def derive(df: DataFrame) -> DataFrame:
    """Reference derive stage (project-co2.py:101,105): change =
    2014 - 2004; isReduced = change <= 0 (zero counts as reduced)."""
    return df.withColumn("change", F.col(TARGET_YEAR) - F.col(BASE_YEAR)).withColumn(
        "isReduced", F.col("change") <= 0
    )


#: Largest CSV ``load_clean`` keeps in one partition.  One partition
#: saves the exchanges and their jobs on every call; above this size one
#: task parsing and scanning the whole table costs more (see load_clean).
_ONE_PARTITION_MAX_BYTES = 32 << 20


def _one_partition(path: str) -> bool:
    """True when the file (or directory) at ``path`` is at most
    :data:`_ONE_PARTITION_MAX_BYTES`; False above it and for a non-local
    path."""
    nbytes = table_nbytes(path)
    return nbytes is not None and nbytes <= _ONE_PARTITION_MAX_BYTES


def _cleaned(spark: SparkSession, csv_path: str) -> DataFrame:
    """:func:`load_clean`'s frame before the cache."""
    clean = derive(preprocess(read_co2_csv(spark, csv_path)))
    return clean.coalesce(1) if _one_partition(csv_path) else clean


def load_clean(spark: SparkSession, csv_path: str = REFERENCE_CSV) -> DataFrame:
    """CSV -> preprocess -> derive, cached (every analytic below reuses
    this lineage; the reference re-reads the CSV per action).

    Layout: a small CSV (:func:`_one_partition`) is coalesced to one
    partition before the cache.  Spark may still read it in several
    splits, but the cached table then reports a single partition, so
    ``EnsureRequirements`` plans no ``Exchange`` (and AQE runs no stage
    job) for any aggregate, sort or MLlib summary over it.  ``coalesce``,
    not ``repartition(1)``: it is narrow and keeps file order, so a
    seeded ``sample`` draws the same rows whatever the split count (a
    ``repartition(1)`` reducer reads map outputs in fetch order).  Above
    the threshold the file's splits are kept: one task would parse the
    whole file, and build the features and the silhouette over it.

    Crossover, warm ``co2_pipeline`` pass medians on 4 cores, one
    partition / the file's splits (2 at 7.2 MiB, 4 above), passes
    alternating (``tools/job_timeline.py --layout both co2``): 7.2 MiB
    1.49 / 1.66 s, 14.4 MiB 1.75 / 1.90 s, 25 MiB 1.85 / 1.87 s, 36 MiB
    2.04 / 2.18 s, 54 MiB 2.69 / 2.65 s, 108 MiB 3.80 / 3.22 s, 144 MiB
    3.74 / 2.58 s, 215 MiB 4.66 / 3.03 s.  The threshold sits below the
    break-even near 40-50 MiB.
    """
    return _cleaned(spark, csv_path).cache()


# -- the six analytical queries (reference project-co2.py:184-226) --------


def top_emitters(df: DataFrame, year: str = TARGET_YEAR, n: int = 3, lowest: bool = False) -> DataFrame:
    """Top/bottom-n emitters in a year (project-co2.py:187-192)."""
    order = F.asc(year) if lowest else F.desc(year)
    return df.select("Country Name", year).orderBy(order, F.asc("Country Name")).limit(n)


def top_reducers(df: DataFrame, n: int = 3) -> DataFrame:
    """Countries with the biggest reduction (project-co2.py:191-192)."""
    return df.select("Country Name", "change").orderBy(F.asc("change"), F.asc("Country Name")).limit(n)


def top_increasers(df: DataFrame, n: int = 3) -> DataFrame:
    """Countries with the biggest increase (project-co2.py:196-200)."""
    return df.select("Country Name", "change").orderBy(F.desc("change"), F.asc("Country Name")).limit(n)


def reduced_increased_counts(df: DataFrame) -> tuple[int, int]:
    """Counts of reduced/increased countries (project-co2.py:204-211,
    with the submission fix: increased counts the increased side)."""
    counts = {r["isReduced"]: r["count"] for r in df.groupBy("isReduced").count().collect()}
    return int(counts.get(True, 0)), int(counts.get(False, 0))


def conditional_sums(df: DataFrame) -> tuple[float, float, float]:
    """(sum | reduced, sum | increased, total) in ONE aggregation pass
    (the reference runs three separate filter+agg jobs,
    project-co2.py:218-222).  An empty table sums to 0.0 (SQL SUM over
    zero rows is NULL)."""
    zero = F.lit(0.0)
    row = df.agg(
        F.coalesce(F.sum(F.when(F.col("isReduced"), F.col("change")).otherwise(0.0)), zero).alias("r"),
        F.coalesce(F.sum(F.when(~F.col("isReduced"), F.col("change")).otherwise(0.0)), zero).alias("i"),
        F.coalesce(F.sum("change"), zero).alias("t"),
    ).collect()[0]
    return float(row["r"]), float(row["i"]), float(row["t"])


def selected_countries(df: DataFrame, names: list[str] | None = None) -> DataFrame:
    """The 5-country comparison (project-co2.py:226), expressed with
    isin instead of the reference's 5-way OR chain.  ``names=None``
    selects the reference's five; an empty list selects no rows."""
    return (
        df.filter(F.col("Country Name").isin(names if names is not None else COMPARISON_COUNTRIES))
        .select("Country Name", BASE_YEAR, TARGET_YEAR, "change", "isReduced")
        .orderBy("change")
    )


def world_join(
    df: DataFrame,
    spark: SparkSession | None = None,
    value_cols: tuple[str, ...] = ("change", "isReduced"),
) -> DataFrame:
    """Reference project-co2.py:137-147, entirely in Spark: patch the
    four '-99' ISO codes on the world dim, rename `Country Code` to
    `iso_a3`, LEFT-join from the dim so every world row survives --
    countries absent from the CO2 table carry null change/cluster
    (the reference renders them grey), and CO2 aggregates (`ARB`,
    `WLD`, ...) drop out because no world row matches them.  The
    reference does this join in pandas after a `.toPandas()`; here the
    CO2 side stays a DataFrame and is the broadcast (non-preserved)
    side of the join.
    """
    from .world_dim import apply_iso_patches, geo_left_join, world_dim_df

    dim = apply_iso_patches(world_dim_df(spark or df.sparkSession))
    co2 = df.withColumnRenamed("Country Code", "iso_a3").select("iso_a3", *value_cols)
    return geo_left_join(dim, co2)


# -- the ML leg (reference project-co2.py:34-76) ---------------------------


@dataclass
class Co2PipelineResult:
    n_raw: int
    n_clean: int
    n_reduced: int
    n_increased: int
    sum_reduced: float
    sum_increased: float
    sum_total: float
    silhouette: float
    centroids: list[list[float]] = field(default_factory=list)
    cluster_ranges: DataFrame | None = None
    assigned: DataFrame | None = None


def run_pipeline(
    spark: SparkSession,
    csv_path: str = REFERENCE_CSV,
    k: int = 5,
    seed: int = 1,
    train_fraction: float | None = 0.1,
) -> Co2PipelineResult:
    """End-to-end reproduction: ingest -> clean -> derive -> k-means ->
    analytics.  Fit on a 10% seed-42 sample like the reference
    (project-co2.py:62-65); pass train_fraction=None for a full fit.

    The returned ``assigned`` frame stays cached (``cluster_ranges``
    reads it); the intermediate ``clean`` and feature tables are
    released once ``assigned`` is materialized.  Spark keys caches by
    plan, so when the caller already cached the same table (its own
    ``load_clean`` of the file) that entry is the caller's and stays."""
    n_raw = read_co2_csv(spark, csv_path).count()
    clean, release_clean = _cache_new(_cleaned(spark, csv_path))
    feats, release_feats = _cache_new(assemble_features(clean, ["change", "isReduced"]))
    try:
        model = fit_kmeans(feats, k=k, seed=seed, sample_fraction=train_fraction)
        assigned = model.transform(feats).cache()
        sil = silhouette(assigned)  # fills the cache before its inputs are released
        n_reduced, n_increased = reduced_increased_counts(clean)
        s_red, s_inc, s_tot = conditional_sums(clean)
        return Co2PipelineResult(
            n_raw=n_raw,
            n_clean=clean.count(),
            n_reduced=n_reduced,
            n_increased=n_increased,
            sum_reduced=s_red,
            sum_increased=s_inc,
            sum_total=s_tot,
            silhouette=sil,
            centroids=[[float(x) for x in c] for c in model.clusterCenters()],
            cluster_ranges=cluster_summary(assigned),
            assigned=assigned,
        )
    finally:
        if release_feats:
            feats.unpersist()
        if release_clean:
            clean.unpersist()


def _cache_new(df: DataFrame) -> tuple[DataFrame, bool]:
    """``df.cache()`` and whether this call made the cache entry (False
    when the session already caches the same plan)."""
    new = df.storageLevel == StorageLevel.NONE
    return df.cache(), new
