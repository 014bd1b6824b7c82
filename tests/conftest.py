from __future__ import annotations

import time
import uuid

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from ecowatt_etl_spark.session import get_spark

    s = get_spark(app_name="ecowatt-tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_ORACLE}/{t}.parquet')"
        )
    yield con
    con.close()


def set_job_group(spark, group: str | None) -> None:
    """Tag the Spark jobs this thread launches next (None clears it)."""
    sc = spark.sparkContext
    if group is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    else:
        sc.setJobGroup(group, group)


def count_jobs(spark, groups: list[str]) -> int:
    """Spark jobs started so far under ``groups``. A sentinel job in a
    group of its own, run after them, marks the end: the status store
    records job starts in order, so once the sentinel is visible every
    job started before it is too."""
    mark = f"sentinel-{uuid.uuid4().hex}"
    set_job_group(spark, mark)
    try:
        spark.sparkContext.parallelize([0], 1).count()
    finally:
        set_job_group(spark, None)
    tracker = spark.sparkContext.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(mark):
        assert time.monotonic() < deadline, "sentinel job never reached the status store"
        time.sleep(0.05)
    return sum(len(tracker.getJobIdsForGroup(g)) for g in groups)


def jobs_in_group(spark, fn):
    """(fn's result, number of Spark jobs fn launched on this thread)."""
    group = f"probe-{uuid.uuid4().hex}"
    set_job_group(spark, group)
    try:
        out = fn()
    finally:
        set_job_group(spark, None)
    return out, count_jobs(spark, [group])
