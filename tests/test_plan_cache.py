"""The registry's prepared plans (queries/registry.py::prepared).

A named query's plan is built once per (session, input versions, SQL
conf) and every call executes a new root over it. These tests pin the
contract: a rewritten input or a changed conf re-plans, a build that
launches a Spark job, starts a stream or returns one is never kept,
concurrent first calls build once, eviction drops the plans, two
results join like two independent scans, and a hit launches no job.
A stream a build starts still reaches Python listeners.
"""

from __future__ import annotations

import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.streaming import StreamingQueryListener

from tests.conftest import SF_SMOKE, jobs_in_group


def _write(path, rows) -> None:
    pq.write_table(
        pa.table({"k": pa.array([r[0] for r in rows], pa.int64()),
                  "v": pa.array([r[1] for r in rows], pa.string())}),
        str(path),
    )


def _counted(name, body):
    """``prepared(name, body)`` plus the list each run of ``body`` appends to."""
    from ecowatt_etl_spark.queries.registry import prepared

    runs: list[int] = []

    def fn(spark, sf_dir):
        runs.append(1)
        return body(spark, sf_dir)

    return prepared(name, fn), runs


def _read(spark, path):
    # an explicit schema: inferring one is a Spark job, which would keep
    # the build from being kept
    return spark.read.schema("k long, v string").parquet(str(path))


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def test_a_table_rewritten_in_place_is_replanned(spark, tmp_path):
    sf, other = tmp_path / "sf", tmp_path / "other"
    sf.mkdir()
    other.mkdir()
    _write(sf / "t.parquet", [(1, "a"), (2, "b")])
    _write(other / "u.parquet", [(1, "x")])

    def body(spark, sf_dir):
        t = _read(spark, f"{sf_dir}/t.parquet")
        return t.join(_read(spark, other / "u.parquet"), "k", "left")

    fn, runs = _counted("rewrite", body)
    assert _rows(fn(spark, str(sf))) == [(1, "a", "x"), (2, "b", None)]
    assert _rows(fn(spark, str(sf))) == [(1, "a", "x"), (2, "b", None)]
    assert len(runs) == 1
    # a file under sf_dir, rewritten under the same path
    _write(sf / "t.parquet", [(1, "a"), (2, "b"), (3, "c")])
    assert _rows(fn(spark, str(sf))) == [(1, "a", "x"), (2, "b", None), (3, "c", None)]
    assert len(runs) == 2
    # a scanned file outside sf_dir, rewritten under the same path
    _write(other / "u.parquet", [(2, "y"), (3, "z")])
    assert _rows(fn(spark, str(sf))) == [(1, "a", None), (2, "b", "y"), (3, "c", "z")]
    assert len(runs) == 3


def test_a_build_that_launches_a_job_is_never_kept(spark, tmp_path):
    from ecowatt_etl_spark.queries import registry

    # a keyed write: q147 merges into a parquet table while it builds
    q147 = registry.all_queries()["q147_merge_upsert"].fn
    for _ in range(2):
        _, jobs = jobs_in_group(spark, lambda: q147(spark, SF_SMOKE))
        assert jobs > 0
    assert (spark, "q147_merge_upsert", SF_SMOKE) not in registry._PLANS._values

    def eager(spark, sf_dir):
        n = spark.range(5).count()
        return spark.range(n)

    fn, runs = _counted("eager", eager)
    for i in (1, 2):
        df, jobs = jobs_in_group(spark, lambda: fn(spark, str(tmp_path)))
        assert jobs > 0 and len(runs) == i and df.count() == 5

    stream, runs = _counted("stream", lambda spark, _: spark.readStream.format("rate").load())
    assert stream(spark, str(tmp_path)).isStreaming
    assert stream(spark, str(tmp_path)).isStreaming
    assert len(runs) == 2


def test_only_local_rdds_are_kept(spark, tmp_path):
    local, local_runs = _counted(
        "local-rows", lambda spark, _: spark.createDataFrame([(1, "a")], "k long, v string")
    )
    scanned, scanned_runs = _counted(
        "rdd-of-a-scan",
        lambda spark, _: spark.createDataFrame(
            spark.read.schema("n_nationkey long").parquet(f"{SF_SMOKE}/nation.parquet").rdd,
            "n_nationkey long",
        ),
    )
    for _ in range(2):
        assert _rows(local(spark, str(tmp_path))) == [(1, "a")]
        assert scanned(spark, str(tmp_path)).columns == ["n_nationkey"]
    assert len(local_runs) == 1
    assert len(scanned_runs) == 2  # an RDD that re-reads a file has no version


def test_eight_concurrent_first_calls_build_once(spark, tmp_path):
    import sys
    import time

    _write(tmp_path / "t.parquet", [(i, str(i)) for i in range(10)])

    def slow(spark, sf_dir):
        time.sleep(0.3)
        return _read(spark, f"{sf_dir}/t.parquet").filter("k % 2 = 0")

    fn, runs = _counted("concurrent", slow)
    start = threading.Barrier(8)
    got: list = [None] * 8

    def client(i: int) -> None:
        start.wait()
        got[i] = _rows(fn(spark, str(tmp_path)))

    threads = [threading.Thread(target=client, args=(i,)) for i in range(8)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert len(runs) == 1
    assert got == [[(i, str(i)) for i in range(0, 10, 2)]] * 8


def test_evict_session_artifacts_drops_the_plans(spark, tmp_path):
    from ecowatt_etl_spark.queries import registry
    from ecowatt_etl_spark.session import evict_session_artifacts

    fn, runs = _counted("evicted", lambda spark, _: spark.range(3))
    fn(spark, str(tmp_path))
    fn(spark, str(tmp_path))
    assert len(runs) == 1 and (spark, "evicted", str(tmp_path)) in registry._PLANS._values
    evict_session_artifacts(spark)
    assert len(registry._PLANS) == 0
    assert fn(spark, str(tmp_path)).count() == 3
    assert len(runs) == 2


def test_a_conf_that_analysis_reads_replans(spark, tmp_path):
    other = spark.newSession()
    other.conf.set("spark.sql.session.timeZone", "UTC")
    fn, runs = _counted(
        "zone",
        lambda spark, _: spark.sql(
            "SELECT CAST(TIMESTAMP '2024-01-01 00:00:00 UTC' AS STRING) AS s"
        ),
    )
    assert fn(other, str(tmp_path)).first()["s"] == "2024-01-01 00:00:00"
    assert fn(other, str(tmp_path)).first()["s"] == "2024-01-01 00:00:00"
    assert len(runs) == 1
    other.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    assert fn(other, str(tmp_path)).first()["s"] == "2024-01-01 09:00:00"
    assert len(runs) == 2


def test_two_results_self_join_like_two_scans(spark):
    from ecowatt_etl_spark.sources.tables import load_table

    load_table(spark, SF_SMOKE, "nation")  # infer the schema: the build is then pure
    fn, runs = _counted("nation", lambda spark, sf_dir: load_table(spark, sf_dir, "nation"))
    a, b = fn(spark, SF_SMOKE), fn(spark, SF_SMOKE)
    assert len(runs) == 1
    rows = (
        a.join(b, a["n_regionkey"] == b["n_nationkey"])
        .select(a["n_name"].alias("nation"), b["n_name"].alias("by_region_key"))
        .collect()
    )
    names = [r[0] for r in a.select("n_name").collect()]
    assert len(names) == 25
    # every nation's region key (0..4) is also a nation key
    assert sorted(r["nation"] for r in rows) == sorted(names)


class _Runs(StreamingQueryListener):
    """The (name, run id) of every stream whose start event arrived, and
    the run ids of every terminated one."""

    def __init__(self) -> None:
        self.started: list[tuple[str | None, str]] = []
        self.terminated: set[str] = set()

    def onQueryStarted(self, event) -> None:  # noqa: N802 — Spark API
        self.started.append((event.name, str(event.runId)))

    def onQueryProgress(self, event) -> None:  # noqa: N802
        pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        self.terminated.add(str(event.runId))


def _stream_runs(spark, call, n: int) -> list[tuple[str | None, str]]:
    """Run ``call``, which runs ``n`` streams to termination, and return
    the start events a Python listener got for them."""
    runs = _Runs()
    spark.streams.addListener(runs)
    try:
        call()
        deadline = time.monotonic() + 60
        while len(runs.terminated) < n:
            assert time.monotonic() < deadline, "termination events not delivered"
            time.sleep(0.05)
    finally:
        spark.streams.removeListener(runs)
    assert {run for _, run in runs.started} == runs.terminated, "start events lost"
    return runs.started


def test_a_stream_started_in_a_build_reaches_python_listeners(spark):
    from ecowatt_etl_spark.queries import registry

    q44 = registry.all_queries()["q44_stream_tumbling"].fn
    started = _stream_runs(spark, lambda: q44(spark, SF_SMOKE).collect(), 1)
    assert [name for name, _ in started] == ["q44_stream_tumbling_sink"]


def test_a_build_that_starts_a_stream_replays_on_every_call(spark, tmp_path):
    from ecowatt_etl_spark.queries import registry
    from ecowatt_etl_spark.streaming.events_stream import start_untagged

    q149 = registry.all_queries()["q149_stream_cdc_upsert"].fn
    got: list = []
    started = _stream_runs(
        spark, lambda: got.extend(_rows(q149(spark, SF_SMOKE)) for _ in range(2)), 2
    )
    assert len({run for _, run in started}) == 2
    assert got[0] == got[1] and got[0]

    # the stream's jobs are its build's only impurity: it writes a file
    # outside sf_dir that the build then scans with a given schema
    sf, src, out = tmp_path / "sf", tmp_path / "src", tmp_path / "out"
    sf.mkdir()
    src.mkdir()
    _write(sf / "t.parquet", [(0, "-")])
    _write(src / "t.parquet", [(1, "a")])

    def replay(spark, sf_dir):
        def write(batch, _):
            batch.write.mode("overwrite").parquet(str(out))

        start_untagged(
            spark.readStream.schema("k long, v string").parquet(str(src))
            .writeStream.foreachBatch(write)
            .option("checkpointLocation", str(tmp_path / f"cp{len(runs)}"))
            .trigger(availableNow=True)
        ).awaitTermination()
        return _read(spark, out)

    fn, runs = _counted("replay", replay)
    for i in (1, 2):
        assert _rows(fn(spark, str(sf))) == [(1, "a")] and len(runs) == i


@pytest.mark.parametrize("name", ["q65_ivf_topk", "q12_star_join"])
def test_a_hit_launches_no_job(spark, name):
    from ecowatt_etl_spark.queries import registry
    from ecowatt_etl_spark.session import evict_session_artifacts

    fn = registry.all_queries()[name].fn
    key = (spark, name, SF_SMOKE)
    evict_session_artifacts(spark)
    expected, first_jobs = jobs_in_group(spark, lambda: _rows(fn(spark, SF_SMOKE)))
    if name == "q65_ivf_topk":
        # the first call builds the ANN index, so its plan is not kept
        assert first_jobs > 0 and key not in registry._PLANS._values
    fn(spark, SF_SMOKE)  # a pure build (a cold one may infer schemas) is kept
    kept = registry._PLANS._values[key]
    df, jobs = jobs_in_group(spark, lambda: fn(spark, SF_SMOKE))
    assert jobs == 0 and registry._PLANS._values[key] is kept
    assert _rows(df) == expected
