"""The scan wrapper's schema memo (sources/tables.py::load_table).

load_table memoises the inferred parquet schema per file version, so a
warm scan (and a warm plan build over it) launches no Spark job. These
tests pin the memo's contract: a file rewritten in place is re-read,
never served stale; every call still returns a fresh relation; warm
builds of the serving path's queries launch no job; and concurrent
first calls resolve the schema once.
"""

from __future__ import annotations

import sys
import threading
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

SF = "/root/testdata/sf0.01"


def _set_group(spark, group: str | None) -> None:
    sc = spark.sparkContext
    if group is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    else:
        sc.setJobGroup(group, group)


def _count_jobs(spark, groups: list[str]) -> int:
    """Spark jobs started so far under ``groups``. A sentinel job in a
    group of its own, run after them, marks the end: the status store
    records job starts in order, so once the sentinel is visible every
    job started before it is too."""
    mark = f"sentinel-{uuid.uuid4().hex}"
    _set_group(spark, mark)
    try:
        spark.sparkContext.parallelize([0], 1).count()
    finally:
        _set_group(spark, None)
    tracker = spark.sparkContext.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(mark):
        assert time.monotonic() < deadline, "sentinel job never reached the status store"
        time.sleep(0.05)
    return sum(len(tracker.getJobIdsForGroup(g)) for g in groups)


def _jobs_in_group(spark, fn):
    """(fn's result, number of Spark jobs fn launched on this thread)."""
    group = f"probe-{uuid.uuid4().hex}"
    _set_group(spark, group)
    try:
        out = fn()
    finally:
        _set_group(spark, None)
    return out, _count_jobs(spark, [group])


def _write_region(path, rows, extra_col: bool = False) -> None:
    cols = {
        "r_regionkey": pa.array([r[0] for r in rows], pa.int64()),
        "r_name": pa.array([r[1] for r in rows], pa.string()),
    }
    if extra_col:
        cols["r_comment"] = pa.array([f"c{r[0]}" for r in rows], pa.string())
    pq.write_table(pa.table(cols), str(path))


def test_table_rewritten_in_place_is_reread_not_served_stale(spark, tmp_path):
    from ecowatt_etl_spark.sources.tables import load_table

    _write_region(tmp_path / "region.parquet", [(0, "AFRICA"), (1, "AMERICA")])
    first = load_table(spark, str(tmp_path), "region")
    assert first.columns == ["r_regionkey", "r_name"]
    assert sorted(r[1] for r in first.collect()) == ["AFRICA", "AMERICA"]

    # same path, different rows and an added column
    _write_region(tmp_path / "region.parquet", [(7, "ASIA")], extra_col=True)
    again = load_table(spark, str(tmp_path), "region")
    assert again.columns == ["r_regionkey", "r_name", "r_comment"]
    assert [tuple(r) for r in again.collect()] == [(7, "ASIA", "c7")]

    # a directory table (Spark's own writer) rewritten in place
    out = str(tmp_path / "dir" / "nation.parquet")
    spark.createDataFrame([(1, "x")], "n_nationkey long, n_name string").write.parquet(out)
    assert load_table(spark, str(tmp_path / "dir"), "nation").count() == 1
    spark.createDataFrame(
        [(1, "x", 5), (2, "y", 6)], "n_nationkey long, n_name string, n_regionkey long"
    ).write.mode("overwrite").parquet(out)
    redir = load_table(spark, str(tmp_path / "dir"), "nation")
    assert redir.columns == ["n_nationkey", "n_name", "n_regionkey"]
    assert sorted(tuple(r) for r in redir.collect()) == [(1, "x", 5), (2, "y", 6)]


def test_second_load_of_one_file_launches_no_job(spark, tmp_path):
    from ecowatt_etl_spark.sources.tables import load_table

    _write_region(tmp_path / "region.parquet", [(0, "AFRICA")])
    _, cold = _jobs_in_group(spark, lambda: load_table(spark, str(tmp_path), "region"))
    assert cold >= 1  # schema inference is a job: the check below can see one
    df, warm = _jobs_in_group(spark, lambda: load_table(spark, str(tmp_path), "region"))
    assert warm == 0
    assert df.columns == ["r_regionkey", "r_name"]


@pytest.mark.parametrize("name", ["q153_bm25_search", "q202_hybrid_rrf", "q12_star_join"])
def test_warm_query_build_launches_no_job(spark, name):
    from ecowatt_etl_spark.queries.registry import all_queries

    fn = all_queries()[name].fn
    fn(spark, SF)  # warm: schemas, corpus statistics and artifacts resolved
    df, jobs = _jobs_in_group(spark, lambda: fn(spark, SF))
    assert jobs == 0, f"{name}: a warm plan build launched {jobs} Spark job(s)"
    assert df.columns


def test_two_loads_of_one_table_self_join(spark):
    from ecowatt_etl_spark.sources.tables import load_table

    a = load_table(spark, SF, "nation")
    b = load_table(spark, SF, "nation")
    rows = (
        a.join(b, a["n_regionkey"] == b["n_nationkey"])
        .select(a["n_name"].alias("nation"), b["n_name"].alias("by_region_key"))
        .collect()
    )
    names = [r[0] for r in a.select("n_name").collect()]
    assert len(names) == 25
    # every nation's region key (0..4) is also a nation key
    assert sorted(r["nation"] for r in rows) == sorted(names)


def test_concurrent_first_calls_resolve_schema_once(spark, tmp_path):
    from ecowatt_etl_spark.sources.tables import load_table

    # what one schema resolution costs, on an identical file elsewhere
    (tmp_path / "ref").mkdir()
    (tmp_path / "hot").mkdir()
    _write_region(tmp_path / "ref" / "region.parquet", [(0, "AFRICA")])
    _write_region(tmp_path / "hot" / "region.parquet", [(0, "AFRICA")])
    _, one = _jobs_in_group(spark, lambda: load_table(spark, str(tmp_path / "ref"), "region"))
    assert one >= 1

    tag = uuid.uuid4().hex
    groups = [f"t{i}-{tag}" for i in range(4)]
    start = threading.Barrier(len(groups))
    errors: list[Exception] = []

    def first_call(group: str) -> None:
        _set_group(spark, group)
        try:
            start.wait(timeout=30)
            load_table(spark, str(tmp_path / "hot"), "region")
        except Exception as e:  # reported by the main thread
            errors.append(e)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=first_call, args=(g,)) for g in groups]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert _count_jobs(spark, groups) == one
