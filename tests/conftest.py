"""Shared fixtures: one SparkSession per test run, small seeded pages."""

from __future__ import annotations

import contextlib

import pytest

from med_doi_feature_extraction_spark.session import get_spark
from med_doi_feature_extraction_spark.sources.pages import (
    generate_dim_snapshots,
    generate_pages,
)


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        app_name="tests",
        master="local[4]",
        shuffle_partitions=8,
    )
    yield spark
    spark.stop()


@pytest.fixture
def no_jobs(spark, request):
    """``with no_jobs(): ...`` asserts the block starts no Spark job
    (status tracker, under a job group named after the test)."""

    @contextlib.contextmanager
    def check():
        sc = spark.sparkContext
        group = request.node.name
        sc.setJobGroup(group, group)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # job-start events reach the status tracker through the async
        # listener bus: drain it so a job launched above cannot be missed
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    return check


@pytest.fixture(scope="session")
def pages_pdf():
    return generate_pages(n_urls=60, seed=42)


@pytest.fixture(scope="session")
def dim_pdf(pages_pdf):
    return generate_dim_snapshots(pages_pdf, seed=43)


@pytest.fixture(scope="session")
def pages_df(spark, pages_pdf):
    return spark.createDataFrame(pages_pdf).cache()


@pytest.fixture(scope="session")
def dim_df(spark, dim_pdf):
    return spark.createDataFrame(dim_pdf).cache()
