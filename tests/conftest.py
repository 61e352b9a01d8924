from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))


@pytest.fixture(scope="session")
def spark():
    from page_evaluator_spark.session import get_spark

    spark = get_spark(app_name="pageeval-tests", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf01_dir() -> str:
    return "/root/testdata/sf0.01"


def plan_string(df) -> str:
    """The executed physical plan of ``df`` as Spark renders it."""
    return df._jdf.queryExecution().executedPlan().toString()
