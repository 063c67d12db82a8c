from __future__ import annotations

import os

import pytest
from pyspark.sql import SparkSession

from youtubeanalyzerproject_big_data__spark.session import DAEMON_MODULE, SCRATCH_ROOT


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    spark_local = os.path.join(SCRATCH_ROOT, "spark-local")
    os.makedirs(spark_local, exist_ok=True)
    s = (
        SparkSession.builder.appName("engine-tests")
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", spark_local)
        # UDF tests run through the engine's worker daemon, as get_spark does.
        .config("spark.python.daemon.module", DAEMON_MODULE)
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def videos(spark):
    """Reference-shaped videos fixture (FIXTURES.md): sentinels, HTML-entity
    category dupes, empty/null/self/dangling related arrays."""
    rows = [
        # (video_id, uploader, category, length, views, rate, related)
        ("v01", "alice", "Music", 100, 500, 4.5, ["v02", "v03", "dangling1"]),
        ("v02", "bob", "Music", 300, 1500, 3.0, ["v01"]),
        ("v03", "alice", "Comedy", 1500, 150000, 5.0, ["v03", "v01"]),  # self-loop
        ("v04", "carol", "People & Blogs", 200, 2500000, 2.0, []),  # empty related
        ("v05", "dave", "People &amp; Blogs", -1, -1, 0.0, None),  # sentinels + null related
        ("v06", "alice", "Music", 240, 25000, 4.0, ["v01", "v02"]),
    ]
    return spark.createDataFrame(
        rows, "video_id string, uploader string, category string, length int, views long, rate double, related array<string>"
    )


@pytest.fixture
def run_counting_jobs(spark):
    """``run(group, fn) -> (fn(), n)``: n is the number of Spark jobs fn
    launched, read from the status store under a job group of its own."""
    sc = spark.sparkContext

    def run(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
