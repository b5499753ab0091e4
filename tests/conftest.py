import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("cerberus_spark_tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def remote_io(monkeypatch):
    """Send every artifact read and write down the Spark branch of the
    artifact-I/O seam (plans/checkpoint.py) — the branch s3a:, hdfs:
    and other non-local filesystems take — by making the seam's
    local-or-remote decision answer "remote" for ``file:`` paths too."""
    from cerberus_spark.plans import checkpoint

    monkeypatch.setattr(checkpoint, "_local_fs_path",
                        lambda spark, path: None)


@pytest.fixture(params=["local", "remote"])
def io_mode(request):
    """Run a test once per branch of the artifact-I/O seam."""
    if request.param == "remote":
        request.getfixturevalue("remote_io")
    return request.param
