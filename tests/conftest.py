from __future__ import annotations

import tempfile
import uuid

import pytest
from pyspark.sql import SparkSession

from stream_sentinel_spark.testing import local_session


def pytest_addoption(parser):
    parser.addoption(
        "--runslow",
        action="store_true",
        default=False,
        help="also run tests marked slow (large-size/stress variants)",
    )


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: large-size/stress variant of coverage that also exists at "
        "default size — excluded from the default run so the suite fits "
        "the driver's verification budget (round-9 verdict item 1); run "
        "with --runslow (CI / pre-release) or -m slow",
    )


def pytest_collection_modifyitems(config, items):
    if config.getoption("--runslow"):
        return
    skip_slow = pytest.mark.skip(reason="slow tier: needs --runslow")
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip_slow)


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    session = (
        local_session("stream-sentinel-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.warehouse.dir", tempfile.mkdtemp(prefix="ss_wh_"))
        .getOrCreate()
    )
    yield session
    session.stop()


def count_jobs(spark: SparkSession, fn, *args, **kwargs) -> int:
    """Number of Spark jobs ``fn(*args, **kwargs)`` runs, broadcast and
    adaptive stage jobs included (they inherit the caller's job
    group). Read from the status tracker, which keeps the last
    ``spark.ui.retainedJobs`` jobs (100 under ``local_session``)."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn(*args, **kwargs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))
