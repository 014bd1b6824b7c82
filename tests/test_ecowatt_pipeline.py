"""End-to-end EcoWatt pipeline parity against the reference goldens.

Goldens (/root/reference/extracted/*.csv) are from a prior reference
run — older column names (SUBURB_KEY) and pre-rounding values (SURVEY
§1.4) — so comparisons are value-based with 1e-6 tolerance (the
reference rounds fact floats to 6 dp, main.py:338-340).
"""

from __future__ import annotations

import csv
import os

import pytest

DATA_DIR = "/root/reference/data"
GOLDEN_DIR = "/root/reference/extracted"


@pytest.fixture(scope="module")
def star(spark):
    # The reference's raw CSVs and golden star are not in the repository;
    # every test on this fixture compares against them.
    for path in (DATA_DIR, GOLDEN_DIR):
        if not os.path.isdir(path):
            pytest.skip(f"reference data absent: {path} is not a directory")
    from ecowatt_etl_spark.plans.ecowatt_pipeline import run_pipeline

    return run_pipeline(spark, DATA_DIR)


def _golden(name: str) -> list[dict]:
    with open(f"{GOLDEN_DIR}/{name}") as f:
        return list(csv.DictReader(f))


def test_dim_time(star):
    rows = {r["id_time"]: r for r in star.dim_time.collect()}
    assert rows[2022]["IS_CURRENT_YEAR"] is False
    assert rows[2023]["IS_CURRENT_YEAR"] is True


def test_dim_fuel(star):
    got = sorted((r["id_fuel_type"], r["FUEL_TYPE"], r["FUEL_DESCRIPTION"])
                 for r in star.dim_fuel_type.collect())
    assert got == [
        (1, "BEV", "Battery Electric Vehicle"),
        (2, "PHEV", "Plug-in Hybrid Electric Vehicle"),
    ]


def test_dim_suburb_matches_golden(star):
    golden = {int(r["id_suburb"]): r["SUBURB_NAME"] for r in _golden("suburb_dim.csv")}
    got = {r["id_suburb"]: r["SUBURB_NAME"] for r in star.dim_suburb.collect()}
    assert got == golden  # 36 suburbs, ids in sorted-name order


def test_dim_vehicle_matches_golden(star):
    golden = {int(r["id_vehicle_type"]): r["VEHICLE_TYPE"] for r in _golden("vehicle_dim.csv")}
    got = {r["id_vehicle_type"]: r["VEHICLE_TYPE"] for r in star.dim_vehicle_type.collect()}
    assert got == golden  # 10 vehicle types from the RAW (unfiltered) frame


def _close(a: float, b: float, tol: float = 1e-6) -> bool:
    return abs(a - b) <= tol + 1e-9 * max(abs(a), abs(b))


def _gfloat(s: str) -> float:
    # golden CSVs are from a pre-fillna run: NaN was written as '' —
    # current reference code (and this engine) fill those with 0
    return 0.0 if s == "" else float(s)


def test_ev_fact_matches_golden(star):
    golden = {int(r["SUBURB_KEY"]): r for r in _golden("ev_fact.csv")}
    got = {r["id_suburb"]: r.asDict() for r in star.fact_ev_impact.collect()}
    assert len(got) == len(golden) == 36
    for key, g in golden.items():
        row = got[key]
        for gc, mc in [
            ("TOTAL_EVS", "TOTAL_EVS"),
            ("BEV_COUNT", "BEV_COUNT"),
            ("PHEV_COUNT", "PHEV_COUNT"),
            ("AVG_RANGE_KM", "AVG_RANGE_KM"),
            ("AVG_PRICE", "AVG_PRICE"),
            ("EV_ADOPTION_SCORE", "EV_ADOPTION_SCORE"),
        ]:
            assert _close(_gfloat(g[gc]), row[mc]), (key, gc, g[gc], row[mc])


def test_energy_fact_matches_golden(star):
    golden = [r for r in _golden("energy_fact.csv")]
    # golden 2022 rows predate the guarded ratios (reference
    # main.py:304-331 overwrite the unguarded main.py:299-300 versions;
    # SURVEY §1.4: "only the guarded semantics matter") — re-apply the
    # guard to the golden expectation where the old run used replace(0,1).
    total_evs = {int(r["SUBURB_KEY"]): _gfloat(r["TOTAL_EVS"]) for r in _golden("ev_fact.csv")}
    got = {(r["id_suburb"], r["YEAR"]): r.asDict()
           for r in star.fact_energy_pollution.collect()}
    assert len(got) == len(golden) == 72
    for g in golden:
        key, year = int(g["SUBURB_KEY"]), int(g["YEAR"])
        row = got[(key, year)]
        for c in [
            "ENERGY_CONSUMPTION",
            "ENERGY_CHANGE_PCT",
            "NO2_LEVEL",
            "NO2_CHANGE",
            "NO2_CHANGE_PCT",
            "EV_PER_ENERGY_UNIT",
            "NO2_PER_EV",
        ]:
            expected = _gfloat(g[c])
            if year == 2022 and c == "NO2_PER_EV" and total_evs[key] <= 0:
                expected = 0.0
            if year == 2022 and c == "EV_PER_ENERGY_UNIT" and _gfloat(g["ENERGY_CONSUMPTION"]) <= 0:
                expected = 0.0
            assert _close(expected, row[c]), (key, year, c, expected, row[c])


def test_fact_ids_contiguous(star):
    ids = sorted(r["fact_energy_pollution_id"] for r in star.fact_energy_pollution.collect())
    assert ids == list(range(1, 73))  # 2023 block 1..36, 2022 block 37..72


def test_write_and_read_back(star, spark, tmp_path):
    from ecowatt_etl_spark.plans.ecowatt_pipeline import write_star_schema

    out = str(tmp_path / "star")
    write_star_schema(star, out)
    back = spark.read.parquet(f"{out}/fact_energy_pollution")
    assert back.count() == 72
    # partition pruning: a YEAR filter must read only one partition
    plan = back.filter("YEAR = 2023")._jdf.queryExecution().executedPlan().toString()
    assert back.filter("YEAR = 2023").count() == 36


def test_write_quality_gate_metrics(star, spark, tmp_path):
    """The load's observe() gate collects row/null metrics during the
    write itself and returns them; a violated expectation raises."""
    from ecowatt_etl_spark.plans.ecowatt_pipeline import write_star_schema

    metrics = write_star_schema(star, str(tmp_path / "star_q"))
    assert metrics["fact_ev_impact"]["n_rows"] == 36
    assert metrics["fact_energy_pollution"]["n_rows"] == 72
    assert metrics["fact_ev_impact"]["n_null_id_suburb"] == 0
