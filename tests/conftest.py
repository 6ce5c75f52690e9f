from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from sfa_spark.session import get_spark

    s = get_spark("sfa_spark_tests")
    yield s


@pytest.fixture(scope="session")
def events(spark):
    return spark.read.parquet(f"{SF_DIR}/events.parquet")


@pytest.fixture(scope="session")
def documents(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="session")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture()
def spark_jobs(spark):
    """``spark_jobs(fn)`` runs ``fn`` and returns (its result, the number
    of Spark jobs it launched), counted from a job group of its own — a
    counter that host load cannot move."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"counted-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "counted")
        try:
            out = fn()
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        # the status store is fed by the listener bus: drain it first
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
