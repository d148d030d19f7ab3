from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("etl-knlp-tests")
        .master("local[*]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir", "/tmp/etl_knlp_test_warehouse")
        .config(
            "spark.driver.extraJavaOptions",
            "-Dderby.system.home=/tmp/etl_knlp_test_derby",
        )
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def jobs_under_group(spark):
    """``run(group, fn)`` calls ``fn`` under a job group set on this
    thread and returns the ids of the jobs that carry the group and of
    the jobs submitted meanwhile without one, read from the status
    tracker once the listener bus has delivered every job event."""
    sc = spark.sparkContext

    def settled_ungrouped() -> set[int]:
        sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        return set(sc.statusTracker().getJobIdsForGroup(None))

    def run(group: str, fn) -> tuple[list[int], set[int]]:
        before = settled_ungrouped()
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        ungrouped = settled_ungrouped() - before
        return sc.statusTracker().getJobIdsForGroup(group), ungrouped

    return run
