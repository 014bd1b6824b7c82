"""Tests of the benchmark itself (not of the program it measures).

    python -m pytest perfbench/tests -q

The last two tests start Spark and take a few minutes each.
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

import duckdb
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(1, ROOT)

import gen  # noqa: E402
import oracle  # noqa: E402


def _generate(out: str, seed: int) -> None:
    subprocess.run(
        [sys.executable, os.path.join(BENCH, "gen.py"), out, str(seed), "0.001", "2000", "40"],
        check=True,
    )


def _same_tree(a: str, b: str) -> bool:
    files = sorted(
        os.path.relpath(os.path.join(d, f), a) for d, _, fs in os.walk(a) for f in fs
    )
    match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    return len(match) == len(files) and not mismatch and not errors


def test_generator_is_byte_identical_for_a_seed(tmp_path):
    _generate(str(tmp_path / "a"), 11)
    _generate(str(tmp_path / "b"), 11)
    _generate(str(tmp_path / "c"), 12)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))


def test_generator_writes_the_reference_dialect(tmp_path):
    gen.write_etl_csvs(str(tmp_path), 5, 2000, 40)
    ev = (tmp_path / "Ev_Population.csv").read_text().splitlines()
    assert ";;" in ev[0] and "LISTED PRICE ($AUD)" in ev[0]
    assert any(";HFCEV;" in line for line in ev)
    assert any("*;" in line for line in ev)
    elec = (tmp_path / "Electricity_Consumption.csv").read_text(encoding="utf-8")
    assert elec.startswith("\ufeffFID;") and " + " in elec
    poll = (tmp_path / "Pollution_Index.csv").read_text().splitlines()
    assert poll[2].startswith("Date,") and "CHULLORA NO2 annual average" in poll[2]
    assert poll[3].split(",")[0] == "1/12/2021"


def test_star_check_passes_on_expected_and_fails_on_a_wrong_value(tmp_path):
    gen.write_etl_csvs(str(tmp_path / "csv"), 3, 3000, 60)
    con = duckdb.connect()
    expected = oracle.expected_star(con, str(tmp_path / "csv"))
    assert len(expected["dim_suburb"]) > 8
    assert len(expected["fact_energy_pollution"]) == 2 * len(expected["dim_suburb"])
    oracle.write_star(con, expected, str(tmp_path / "star"))
    assert oracle.check_star(con, str(tmp_path / "star"), expected) == []

    wrong = dict(expected)
    row = list(wrong["fact_ev_impact"][0])
    row[3] += 1.0  # one more EV in the first suburb
    wrong["fact_ev_impact"] = [tuple(row), *wrong["fact_ev_impact"][1:]]
    problems = oracle.check_star(con, str(tmp_path / "star"), wrong)
    assert problems and problems[0].startswith("fact_ev_impact")


def test_star_doubles_compare_at_the_engines_six_places():
    # the engine writes round(x, 6), HALF_UP; exact ties must still match
    assert oracle._same(1.423438, 1.4234375)
    assert oracle._same(-39.363311, -39.36331076736851)
    assert not oracle._same(1.423437, 1.4234375)
    assert not oracle._same(2.000001, 2.0)


def test_registry_check_fails_on_a_wrong_value(tmp_path):
    _generate(str(tmp_path), 4)
    ps = oracle.parity_module(ROOT)
    ps.SF = str(tmp_path / "warehouse")
    con = oracle.warehouse_connection(ps.SF)
    from ecowatt_etl_spark.queries.registry import all_queries

    sql = all_queries()["q05_multiagg_conditional"].oracle
    pdf = con.execute(ps.retarget(sql)).fetchdf()
    assert oracle.check_registry(ps, con, sql, pdf)
    num = [c for c in pdf.columns if pdf[c].dtype.kind in "if"][0]
    pdf.loc[0, num] = pdf.loc[0, num] + 1
    assert not oracle.check_registry(ps, con, sql, pdf)


def _traced_run(seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "etl_ingest",
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, check=True, capture_output=True, text=True, timeout=600,
    )
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    return {k: v["value"] for k, v in result["metrics"].items()}


def test_single_client_counts_repeat_across_traced_runs():
    a, b = _traced_run(21), _traced_run(21)
    for name in ("sources.scan_bytes", "sources.stored_bytes_per_input_byte", "plans.jobs"):
        assert a[name] > 0
        assert a[name] == b[name], name


def test_slow_oracle_queries_match_their_oracles():
    import workloads

    bench = workloads.Bench(ROOT, "curation_cold", 31, traced=False)
    try:
        bench.setup()
        wl = workloads.CurationCold(bench)
        names = sorted(workloads.SLOW_ORACLES)
        for name in names:
            bench.evict()
            bench.warm([name])
        wl.check_registry(names, slow_oracles=True)
    finally:
        bench.close()
    assert bench.problems == {}


if __name__ == "__main__":
    sys.exit(pytest.main([HERE, "-q"]))
