import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF001 = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from big_data_co2_emission_analysis_spark.session import get_session

    s = get_session("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF001
