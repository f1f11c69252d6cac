"""Edge cases of the CO2 pipeline stages on small in-test frames (the
golden values live in tests/test_co2_golden.py, which needs the
reference CSV), the whole pipeline checked against the answer key of
a seeded generated table, and ``load_clean``'s one-partition gate forced
to both sides (the tests/test_gate_canaries.py pattern: gate arithmetic
on sparse files, plan shape and answers on each side)."""

import sys
from contextlib import contextmanager
from pathlib import Path

import pytest

from big_data_co2_emission_analysis_spark.co2 import pipeline as P


@pytest.fixture(scope="module")
def clean(spark):
    rows = [
        ("Germany", "DEU", 10.0, 9.0),
        ("China", "CHN", 3.0, 7.5),
        ("Sweden", "SWE", 6.0, 4.5),
        ("Aruba", "ABW", 20.0, 8.0),
    ]
    raw = spark.createDataFrame(rows, "`Country Name` string, `Country Code` string, `2004` double, `2014` double")
    return P.derive(P.preprocess(raw))


def test_conditional_sums(clean):
    assert P.conditional_sums(clean) == (-14.5, 4.5, -10.0)


def test_conditional_sums_empty_table_is_zero(clean):
    assert P.conditional_sums(clean.filter("false")) == (0.0, 0.0, 0.0)


def test_selected_countries_default_and_explicit(clean):
    assert [r[0] for r in P.selected_countries(clean).collect()] == ["Sweden", "Germany", "China"]
    assert [r[0] for r in P.selected_countries(clean, ["Aruba"]).collect()] == ["Aruba"]


def test_selected_countries_empty_list_selects_no_rows(clean):
    assert P.selected_countries(clean, []).collect() == []


# -- the pipeline's answers on a seeded wide CSV (no reference file) ------
#
# perfbench/co2gen.py writes a table of the reference file's shape (BOM'd
# header, trailing commas, null/zero-change/tied rows, the comparison
# countries, dimension codes) and computes its exact answer key in numpy.

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "perfbench"))
import co2gen  # noqa: E402

SEED, N_ROWS = 5, 2_000
PREAMBLE = '"Data Source","World Development Indicators",\n\n"Last Updated Date","2020-07-01",\n\n'


def _pairs(rows, value_col):
    return [(r["Country Name"], float(r[value_col])) for r in rows]


def _write_generated(directory):
    table = co2gen.generate(SEED, N_ROWS)
    path = directory / "co2.csv"
    path.write_bytes(co2gen.to_csv(table))
    return str(path), co2gen.answer_key(table)


@contextmanager
def _conf(spark, confs):
    """Set session confs for the block and restore the previous values."""
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _pinned(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.fixture(scope="module")
def generated(spark, tmp_path_factory):
    path, key = _write_generated(tmp_path_factory.mktemp("co2gen"))
    clean = P.load_clean(spark, path)
    yield clean, key
    clean.unpersist()


def test_generated_cleaning_counts_and_sums(generated):
    clean, key = generated
    assert clean.count() == key["n_clean"]
    assert P.reduced_increased_counts(clean) == (key["n_reduced"], key["n_increased"])
    expected = (key["sum_reduced"], key["sum_increased"], key["sum_total"])
    assert P.conditional_sums(clean) == pytest.approx(expected, rel=1e-9, abs=1e-9)


def test_generated_top3_lists_and_selection(generated):
    clean, key = generated
    assert _pairs(P.top_emitters(clean).collect(), "2014") == key["top_2014"]
    assert _pairs(P.top_emitters(clean, "2004").collect(), "2004") == key["top_2004"]
    assert _pairs(P.top_reducers(clean).collect(), "change") == key["top_reducers"]
    assert _pairs(P.top_increasers(clean).collect(), "change") == key["top_increasers"]
    assert sorted(_pairs(P.selected_countries(clean).collect(), "change")) == key["selected"]


def test_generated_world_join_patches(spark, generated):
    from big_data_co2_emission_analysis_spark.co2.world_dim import world_dim_df

    clean, key = generated
    rows = P.world_join(clean, spark).collect()
    hit = {r["name"]: r["change"] for r in rows if r["change"] is not None}
    assert len(rows) == 177
    assert len(hit) == key["n_matched"]
    assert sum(hit.values()) == pytest.approx(key["sum_matched_change"], rel=1e-9, abs=1e-9)
    # France and Norway match only through the dimension's '-99' patches
    raw_codes = {r["name"]: r["iso_a3"] for r in world_dim_df(spark).collect()}
    assert raw_codes["France"] == raw_codes["Norway"] == "-99"
    assert {"France", "Norway"} <= hit.keys()


def test_generated_ml_invariants(generated):
    from big_data_co2_emission_analysis_spark.ml import clustering as C

    clean, key = generated
    feats = C.assemble_features(clean, ["change", "isReduced"])
    model = C.fit_kmeans(feats, k=5, seed=1, sample_fraction=0.1)
    assert len(model.clusterCenters()) == 5
    assigned = model.transform(feats)
    assert -1.0 <= C.silhouette(assigned) <= 1.0
    summary = C.cluster_summary(assigned).collect()
    assert len(summary) == 5
    assert min(r["min_change"] for r in summary) == key["min_change"]
    assert max(r["max_change"] for r in summary) == key["max_change"]


@pytest.mark.parametrize("bom_at_file_start", [False, True])
def test_read_co2_csv_raw_preamble_with_bom(spark, tmp_path, bom_at_file_start):
    """The raw WDI layout: metadata rows and blank lines before the
    header.  Prepended to the BOM'd edited file, the BOM starts the
    header line mid-file; a BOM at the very start of the file sits
    before the preamble instead.  Either way the header is no row."""
    from big_data_co2_emission_analysis_spark.sources.readers import read_co2_csv

    table = co2gen.generate(7, 200)
    key = co2gen.answer_key(table)
    body = co2gen.to_csv(table).decode("utf-8")
    text = "\ufeff" + PREAMBLE + body[1:] if bom_at_file_start else PREAMBLE + body
    path = tmp_path / "co2-dataset.csv"
    path.write_bytes(text.encode("utf-8"))
    raw = read_co2_csv(spark, str(path), edited=False)
    assert raw.count() == key["n_raw"]
    assert P.derive(P.preprocess(raw)).count() == key["n_clean"]


def test_run_pipeline_matches_answer_key_and_keeps_only_assigned(spark, tmp_path):
    path, key = _write_generated(tmp_path)
    before = _pinned(spark)
    res = P.run_pipeline(spark, path)
    try:
        assert (res.n_raw, res.n_clean) == (key["n_raw"], key["n_clean"])
        assert (res.n_reduced, res.n_increased) == (key["n_reduced"], key["n_increased"])
        expected = (key["sum_reduced"], key["sum_increased"], key["sum_total"])
        assert (res.sum_reduced, res.sum_increased, res.sum_total) == pytest.approx(expected, rel=1e-9, abs=1e-9)
        assert len(res.centroids) == 5
        assert -1.0 <= res.silhouette <= 1.0
        ranges = res.cluster_ranges.collect()
        assert min(r["min_change"] for r in ranges) == key["min_change"]
        assert max(r["max_change"] for r in ranges) == key["max_change"]
        # clean and the feature table are released; the returned assignment stays
        assert _pinned(spark) == before + 1
    finally:
        res.assigned.unpersist()


def test_run_pipeline_keeps_a_callers_cached_clean(spark, tmp_path):
    # Spark keys caches by plan: the caller's load_clean of the same file
    # is the entry run_pipeline would cache, and it is not run_pipeline's
    # to release.
    from pyspark import StorageLevel

    path, key = _write_generated(tmp_path)
    clean = P.load_clean(spark, path)
    try:
        assert clean.count() == key["n_clean"]
        before = _pinned(spark)
        res = P.run_pipeline(spark, path)
        res.assigned.unpersist()
        assert clean.storageLevel != StorageLevel.NONE
        assert _pinned(spark) == before
    finally:
        clean.unpersist()


#: cut a CSV of a few hundred KB into several file splits
_SEVERAL_SPLITS = {"spark.sql.files.openCostInBytes": "1", "spark.sql.files.minPartitionNum": "4"}


def _kmeans_on_load_clean(spark, path):
    from big_data_co2_emission_analysis_spark.ml import clustering as C

    clean = P.load_clean(spark, path)
    try:
        feats = C.assemble_features(clean, ["change", "isReduced"])
        model = C.fit_kmeans(feats, k=5, seed=1, sample_fraction=0.1)
        centers = [c.tolist() for c in model.clusterCenters()]
        return clean.rdd.getNumPartitions(), model.summary.trainingCost, centers
    finally:
        clean.unpersist()


def test_kmeans_answer_independent_of_file_splits(spark, tmp_path):
    """The seeded 10% sample is drawn per partition, so over the file's
    splits the fit depended on the core count.  Over load_clean's one
    partition it does not: forcing the small CSV into several splits
    gives the same cost and centers bit for bit."""
    path, _ = _write_generated(tmp_path)
    n_default, cost, centers = _kmeans_on_load_clean(spark, path)
    with _conf(spark, _SEVERAL_SPLITS):
        assert spark.read.csv(path).rdd.getNumPartitions() >= 2
        n_split, split_cost, split_centers = _kmeans_on_load_clean(spark, path)
    assert n_default == n_split == 1
    assert (split_cost, split_centers) == (cost, centers)


# -- load_clean's one-partition gate, forced both ways ---------------------


def _sparse_file(path, nbytes):
    """A sparse file of exactly ``nbytes``: the gate reads its size only."""
    with open(path, "wb") as fh:
        fh.truncate(nbytes)
    return str(path)


def test_one_partition_gate_arithmetic(tmp_path):
    def one(name, nbytes):
        return P._one_partition(_sparse_file(tmp_path / name, nbytes))

    limit = P._ONE_PARTITION_MAX_BYTES
    assert one("under.csv", limit - 1) and one("at.csv", limit)
    assert not one("over.csv", limit + 1)
    # a missing (or non-local) path keeps the file's own splits
    assert not P._one_partition(str(tmp_path / "missing.csv"))


def _stages_per_job(spark, thunk):
    """``thunk()`` and the stage count of every job it ran.  With AQE
    off an ``Exchange`` is a shuffle-map stage inside the job that reads
    it, so one stage per job means the plan had no exchange."""
    from big_data_co2_emission_analysis_spark.plans.metrics import _ledger

    result, jobs, _ = _ledger(spark, thunk)
    assert jobs
    return result, [len(j["stageIds"]) for j in jobs]


@pytest.mark.parametrize("side", ["below", "above"])
def test_one_partition_gate_plan_shape_and_answers(spark, tmp_path, monkeypatch, side):
    """The small CSV is cut into several splits on both sides.  Below
    the gate the cached table is one partition and the aggregate, the
    sort and the k-means summary plan no exchange.  With the threshold
    under the file size the file's splits are kept and each of them
    shuffles.  The answers are the key's on both sides."""
    from big_data_co2_emission_analysis_spark.ml import clustering as C

    path, key = _write_generated(tmp_path)
    nbytes = Path(path).stat().st_size
    confs = {"spark.sql.adaptive.enabled": "false", **_SEVERAL_SPLITS}
    if side == "above":
        monkeypatch.setattr(P, "_ONE_PARTITION_MAX_BYTES", nbytes - 1)
    with _conf(spark, confs):
        assert spark.read.csv(path).rdd.getNumPartitions() >= 2
        clean = P.load_clean(spark, path)
        try:
            feats = C.assemble_features(clean, ["change", "isReduced"])
            assigned = C.fit_kmeans(feats, k=5, seed=1, sample_fraction=0.1).transform(feats)
            counts, counts_stages = _stages_per_job(spark, lambda: P.reduced_increased_counts(clean))
            selected, selected_stages = _stages_per_job(spark, lambda: P.selected_countries(clean).collect())
            summary, summary_stages = _stages_per_job(spark, lambda: C.cluster_summary(assigned).collect())
            shapes = [counts_stages, selected_stages, summary_stages]
            if side == "below":
                assert clean.rdd.getNumPartitions() == 1
                assert all(set(n) == {1} for n in shapes), shapes
            else:
                assert clean.rdd.getNumPartitions() > 1
                assert all(max(n) > 1 for n in shapes), shapes

            assert counts == (key["n_reduced"], key["n_increased"])
            assert sorted(_pairs(selected, "change")) == key["selected"]
            assert min(r["min_change"] for r in summary) == key["min_change"]
            assert max(r["max_change"] for r in summary) == key["max_change"]
            expected = (key["sum_reduced"], key["sum_increased"], key["sum_total"])
            assert P.conditional_sums(clean) == pytest.approx(expected, rel=1e-9, abs=1e-9)
            assert _pairs(P.top_emitters(clean).collect(), "2014") == key["top_2014"]
            assert _pairs(P.top_reducers(clean).collect(), "change") == key["top_reducers"]
            assert _pairs(P.top_increasers(clean).collect(), "change") == key["top_increasers"]
        finally:
            clean.unpersist()


# -- the world dimension is a local relation --------------------------------


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_world_dim_is_local_relation_equal_to_list_form(spark, arrow):
    from big_data_co2_emission_analysis_spark.co2.world_dim import WORLD_DIM, world_dim_df

    key = "spark.sql.execution.arrow.pyspark.enabled"
    with _conf(spark, {key: arrow}):
        dim = world_dim_df(spark)
        assert spark.conf.get(key) == arrow  # the caller's setting is restored
        plan = dim._jdf.queryExecution().optimizedPlan().toString()
        assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan
        listed = spark.createDataFrame(WORLD_DIM, "iso_a3 string, name string, continent string, pop_est double")
        base = dim.drop("geometry_wkt")
        assert base.schema == listed.schema  # names, types and nullability
        assert base.collect() == listed.collect()
        assert dim.filter("geometry_wkt IS NULL").count() == 0
