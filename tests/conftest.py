from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
if str(REPO_ROOT) not in sys.path:
    sys.path.insert(0, str(REPO_ROOT))

from oscar_tools_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("oscar-tools-spark-tests", cores=4, shuffle_partitions=4)
    yield spark


@pytest.fixture
def jobs_started(spark, request):
    """A callable returning how many Spark jobs this test has started so
    far: the test runs under its own job group, read back through
    ``statusTracker``."""
    sc = spark.sparkContext
    group = request.node.nodeid
    sc.setJobGroup(group, group)
    yield lambda: len(sc.statusTracker().getJobIdsForGroup(group))
    sc.setLocalProperty("spark.jobGroup.id", None)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"
