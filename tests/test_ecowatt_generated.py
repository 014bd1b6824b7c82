"""The paper's ETL on generated inputs, checked against DuckDB.

``perfbench/gen.py:write_etl_csvs`` writes seeded CSVs in the reference
dialect (FIXTURES.md §1 quirks), and ``perfbench/oracle.py:expected_star``
derives the whole star from them in DuckDB, independently of the
engine's code. This runs the engine's own load, ``run_pipeline`` then
``write_star_schema`` with both gates, at the benchmark's input sizes,
so the star schema is under test wherever the reference data is absent
(``test_ecowatt_pipeline.py`` keeps its golden comparison for where it
is present). Seed 1234567 is the case whose facts hit exact HALF_UP
ties at 6 decimals.

The load's execution contract is pinned here too: the plan guard sees
the conformed frame before any Spark job runs, the whole load launches
a bounded number of jobs (its CSVs are scanned once, not once per
table), the pollution reader is a lazy scan that reads like pandas'
``header=2``, and a failure in one of the concurrent table writes is
raised, never swallowed.
"""

from __future__ import annotations

import dataclasses
import os
import sys
import uuid

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.conftest import count_jobs, jobs_in_group, set_job_group

BENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import oracle  # noqa: E402

EV_ROWS, SUBURBS = 20_000, 200  # perfbench/workloads.py's sizes
# run_pipeline + write_star_schema launched 51 jobs when every table
# write re-planned the DAG from the CSVs; one materialisation needs 22
MAX_LOAD_JOBS = 25


@pytest.mark.parametrize("seed", [1, 1234567])
def test_star_matches_duckdb_on_generated_csvs(spark, tmp_path, seed):
    from ecowatt_etl_spark.plans.ecowatt_pipeline import run_pipeline, write_star_schema

    csv_dir, out = str(tmp_path / "csv"), str(tmp_path / "star")
    gen.write_etl_csvs(csv_dir, seed, EV_ROWS, SUBURBS)

    star, pipeline_jobs = jobs_in_group(spark, lambda: run_pipeline(spark, csv_dir))
    metrics, write_jobs = jobs_in_group(
        spark,
        lambda: write_star_schema(star, out, "parquet", quality_gate=True, plan_gate=True),
    )

    con = duckdb.connect()
    try:
        assert oracle.check_star(con, out, oracle.expected_star(con, csv_dir)) == []
    finally:
        con.close()
    assert set(metrics) == {"fact_ev_impact", "fact_energy_pollution"}
    for m in metrics.values():
        assert m["n_rows"] > 0 and m["n_null_id_suburb"] == 0
    # the writes run on pool threads: their jobs count in the caller's
    # job group only because each thread inherits it
    assert write_jobs >= len(star.tables())
    assert pipeline_jobs + write_jobs <= MAX_LOAD_JOBS


def test_star_plans_scan_no_python_rdd(spark, tmp_path):
    """The literal dimensions are planned in the JVM: the only RDD any
    star table scans is the conformed frame's checkpoint, never a
    pickled Python RDD, and the two literal tables write the parquet
    schema ``createDataFrame`` wrote (nullable columns)."""
    import glob

    import pyarrow.parquet as pq

    from ecowatt_etl_spark.plans.ecowatt_pipeline import run_pipeline
    from ecowatt_etl_spark.plans.guard import physical_plan

    csv_dir = str(tmp_path / "csv")
    gen.write_etl_csvs(csv_dir, 1, 500, 20)
    star = run_pipeline(spark, csv_dir)
    for name, df in star.tables().items():
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                assert leaf.rdd().isCheckpointed(), f"{name} scans a Python RDD"

    ddl = {
        "dim_time": "id_time long, YEAR long, IS_CURRENT_YEAR boolean",
        "dim_fuel_type": "id_fuel_type long, FUEL_TYPE string, FUEL_DESCRIPTION string",
    }
    for name, schema in ddl.items():
        df = star.tables()[name]
        assert "ExistingRDD" not in physical_plan(df), name
        written = {}
        for kind, frame in (("jvm", df), ("rows", spark.createDataFrame(df.collect(), schema))):
            frame.write.parquet(str(tmp_path / name / kind))
            written[kind] = pq.read_schema(glob.glob(str(tmp_path / name / kind / "*.parquet"))[0])
        assert written["jvm"].equals(written["rows"], check_metadata=True), name


def test_plan_guard_runs_before_any_job(spark, tmp_path, monkeypatch):
    """A banned shape upstream of the conformed frame fails run_pipeline
    before a single Spark job has touched the data."""
    from ecowatt_etl_spark.plans import ecowatt_pipeline as ep
    from ecowatt_etl_spark.plans.guard import PlanGuardError

    csv_dir = str(tmp_path / "csv")
    gen.write_etl_csvs(csv_dir, 1, 500, 20)
    transform_ev = ep.transform_ev
    upper = F.udf(lambda s: s and s.upper(), "string")  # row-wise Python
    monkeypatch.setattr(
        ep, "transform_ev", lambda raw: transform_ev(raw.withColumn("SUBURB", upper("SUBURB")))
    )

    group = f"guard-{uuid.uuid4().hex}"
    set_job_group(spark, group)
    try:
        with pytest.raises(PlanGuardError, match="BatchEvalPython"):
            ep.run_pipeline(spark, csv_dir)
    finally:
        set_job_group(spark, None)
    assert count_jobs(spark, [group]) == 0


_POLLUTION = (
    '"Air quality data, NO2 and ozone, Sydney",,\n'
    "\n"
    '"Site, as named by the network",RANDWICK,RANDWICK\n'
    "Date,RANDWICK NO2 annual average [pphm],RANDWICK OZONE hourly average [pphm]\n"
    "1/1/2022,1.5,\n"
    ",2.0,0.5\n"
    "3/1/2022,,0.25\n"
    ",,\n"
    "4/1/2022,0.75,1.0\n"
)


def test_pollution_reader_is_a_lazy_scan_that_reads_like_pandas(spark, tmp_path):
    from ecowatt_etl_spark.plans.guard import physical_plan
    from ecowatt_etl_spark.sources.csv_sources import read_pollution

    path = tmp_path / "Pollution_Index.csv"
    path.write_text(_POLLUTION)

    df, jobs = jobs_in_group(spark, lambda: read_pollution(spark, str(path)))
    assert jobs == 0
    plan = physical_plan(df)
    assert "ExistingRDD" not in plan and "BatchEvalPython" not in plan

    want = pd.read_csv(path, header=2, dtype=str)
    assert df.columns == list(want.columns)
    rows = [tuple(r) for r in df.collect()]
    assert sorted(rows, key=repr) == sorted(
        (tuple(None if pd.isna(v) else v for v in r) for r in want.itertuples(index=False)),
        key=repr,
    )


def _written(out: str, name: str) -> bool:
    return os.path.exists(os.path.join(out, name, "_SUCCESS"))


def test_a_failed_table_write_is_raised_after_the_others_finish(spark, tmp_path):
    from ecowatt_etl_spark.plans.ecowatt_pipeline import run_pipeline, write_star_schema

    csv_dir = str(tmp_path / "csv")
    gen.write_etl_csvs(csv_dir, 1, 500, 20)
    star = run_pipeline(spark, csv_dir)
    empty_fact = dataclasses.replace(star, fact_ev_impact=star.fact_ev_impact.limit(0))
    failing_dim = dataclasses.replace(
        star,
        dim_vehicle_type=star.dim_vehicle_type.withColumn(
            "VEHICLE_TYPE", F.raise_error(F.concat(F.lit("boom: "), "VEHICLE_TYPE")).cast("string")
        ),
    )

    # the quality gate still refuses an empty fact
    with pytest.raises(ValueError, match="n_rows=0"):
        write_star_schema(empty_fact, str(tmp_path / "empty"))

    # a write failing in one table fails the load once every other
    # table's write has finished
    out = str(tmp_path / "failing")
    with pytest.raises(Exception, match="boom"):
        write_star_schema(failing_dim, out)
    assert not _written(out, "dim_vehicle_type")
    assert all(_written(out, n) for n in star.tables() if n != "dim_vehicle_type")

    # with two failures, the one earlier in table order is raised
    both = dataclasses.replace(failing_dim, fact_ev_impact=empty_fact.fact_ev_impact)
    with pytest.raises(Exception, match="boom"):
        write_star_schema(both, str(tmp_path / "both"))
