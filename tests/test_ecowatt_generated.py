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
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

BENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import oracle  # noqa: E402

EV_ROWS, SUBURBS = 20_000, 200  # perfbench/workloads.py's sizes


@pytest.mark.parametrize("seed", [1, 1234567])
def test_star_matches_duckdb_on_generated_csvs(spark, tmp_path, seed):
    from ecowatt_etl_spark.plans.ecowatt_pipeline import run_pipeline, write_star_schema

    csv_dir, out = str(tmp_path / "csv"), str(tmp_path / "star")
    gen.write_etl_csvs(csv_dir, seed, EV_ROWS, SUBURBS)

    metrics = write_star_schema(
        run_pipeline(spark, csv_dir), out, "parquet", quality_gate=True, plan_gate=True
    )

    con = duckdb.connect()
    try:
        assert oracle.check_star(con, out, oracle.expected_star(con, csv_dir)) == []
    finally:
        con.close()
    assert set(metrics) == {"fact_ev_impact", "fact_energy_pollution"}
    for m in metrics.values():
        assert m["n_rows"] > 0 and m["n_null_id_suburb"] == 0
