"""Edge cases of the CO2 pipeline stages on small in-test frames (the
golden values live in tests/test_co2_golden.py, which needs the
reference CSV)."""

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
