import os
import sys

import pytest
from hypothesis import settings

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMOKE = os.path.join(TESTDATA, "sf0.001")
SF_CORRECT = os.path.join(TESTDATA, "sf0.01")

# One switch for the property sweeps. A property test that runs at a
# profile's count rather than its own takes
# @settings(settings.get_profile("property")): the `tier1` profile by
# default, `sweep` under SPARK_GRAFT_HYPOTHESIS=sweep. No profile is
# loaded, so every other test keeps its own count or Hypothesis's.
settings.register_profile("tier1", max_examples=12)
settings.register_profile("sweep", max_examples=200)
settings.register_profile(
    "property",
    settings.get_profile(os.environ.get("SPARK_GRAFT_HYPOTHESIS", "tier1")),
)


@pytest.fixture(scope="session")
def spark():
    from iceberg_catalog_migrator_spark.session import get_spark

    spark = get_spark(app_name="tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correct_dir():
    return SF_CORRECT
