from __future__ import annotations

import os

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from weighted_raster_overlay_service_toolbox_spark.session import get_spark

    # Modest thread count for tests: fixture tables are small and JVM
    # startup dominates; correctness is thread-count independent.
    spark = get_spark("wros-spark-tests", cpus=int(os.environ.get("TEST_CPUS", "8")))
    yield spark


@pytest.fixture
def job_ids(spark):
    """``job_ids(group, fn)``: the sorted ids of the Spark jobs ``fn()``
    runs, counted through a job group after the listener bus drains."""

    def run(group, fn):
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
        return sorted(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_ORACLE}/{name}.parquet'"
        )
    yield con
    con.close()
