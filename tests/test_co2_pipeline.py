"""Edge cases of the CO2 pipeline stages on small in-test frames (the
golden values live in tests/test_co2_golden.py, which needs the
reference CSV), and the whole pipeline checked against the answer key of
a seeded generated table."""

import sys
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


@pytest.fixture(scope="module")
def generated(spark, tmp_path_factory):
    table = co2gen.generate(SEED, N_ROWS)
    path = tmp_path_factory.mktemp("co2gen") / "co2.csv"
    path.write_bytes(co2gen.to_csv(table))
    clean = P.load_clean(spark, str(path))
    yield clean, co2gen.answer_key(table)
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
