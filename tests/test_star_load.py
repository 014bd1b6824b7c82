"""The star's load publishes its facts through the write-time gate.

``write_star_schema(quality_gate=True)`` writes each fact with
``sources/expectations.write_checked``: the fact lands in a staging
directory first and replaces the previous generation only when it has
rows and no null surrogate keys. These tests load a clean star, then
try to overwrite it with bad facts, and check that the last good fact
survives and no staging or retired directory is left behind. They also
cover the CSV form of the star and a partitioned append through the
gate, on ``perfbench/gen.py`` inputs.
"""

from __future__ import annotations

import dataclasses
import glob
import os
import sys

import pytest
from pyspark.sql import functions as F

BENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
sys.path.insert(0, BENCH)

import gen  # noqa: E402


@pytest.fixture(scope="module")
def star(spark, tmp_path_factory):
    from ecowatt_etl_spark.plans.ecowatt_pipeline import run_pipeline

    csv_dir = str(tmp_path_factory.mktemp("etl_csv"))
    gen.write_etl_csvs(csv_dir, 1, 500, 20)
    return run_pipeline(spark, csv_dir)


def _litter(out: str) -> list[str]:
    return [n for n in os.listdir(out) if "__staging_" in n or "__retired_" in n]


def test_a_refused_fact_never_replaces_the_last_good_one(spark, star, tmp_path):
    from ecowatt_etl_spark.plans.ecowatt_pipeline import write_star_schema

    out = str(tmp_path / "star")
    metrics = write_star_schema(star, out)
    first = metrics["fact_ev_impact"]["n_rows"]
    assert first > 0
    assert spark.read.parquet(f"{out}/fact_ev_impact").count() == first

    empty = dataclasses.replace(star, fact_ev_impact=star.fact_ev_impact.limit(0))
    holey = dataclasses.replace(
        star,
        fact_ev_impact=star.fact_ev_impact.withColumn(
            "id_suburb",
            F.when(F.col("id_suburb") % 2 == 0, None).otherwise(F.col("id_suburb")),
        ),
    )
    for bad, named in ((empty, "n_rows=0"), (holey, r"n_null_id_suburb=[1-9]")):
        with pytest.raises(ValueError, match=named):
            write_star_schema(bad, out)
        assert spark.read.parquet(f"{out}/fact_ev_impact").count() == first
        assert _litter(out) == []


def test_csv_star_has_headers_and_year_partitions(spark, star, tmp_path):
    from ecowatt_etl_spark.plans.ecowatt_pipeline import write_star_schema

    out = str(tmp_path / "star_csv")
    metrics = write_star_schema(star, out, "csv")
    assert set(metrics) == {"fact_ev_impact", "fact_energy_pollution"}
    for name, df in star.tables().items():
        fact = name.startswith("fact_")
        header = ",".join(c for c in df.columns if not (fact and c == "YEAR"))
        parts = glob.glob(f"{out}/{name}/**/part-*.csv", recursive=True)
        assert parts, name
        for part in parts:
            with open(part) as f:
                assert f.readline().rstrip("\n") == header, part
        if fact:
            dirs = [d for d in os.listdir(f"{out}/{name}") if not d.startswith((".", "_"))]
            assert dirs and all(d.startswith("YEAR=") for d in dirs), dirs
    assert _litter(out) == []


def test_write_checked_appends_into_existing_partitions(spark, tmp_path):
    from ecowatt_etl_spark.sources.expectations import write_checked

    out = str(tmp_path / "appended")
    df = spark.range(6).select("id", (F.col("id") % 2).alias("p"))
    checks = {"id_not_null": F.col("id").isNotNull()}
    for _ in range(2):
        report = write_checked(df, out, checks, mode="append", partition_by=("p",))
        assert report == {"n_rows": 6, "id_not_null": 0}
    back = spark.read.parquet(out)
    assert sorted((r.id, r.p) for r in back.collect()) == sorted(
        (i, i % 2) for i in range(6) for _ in range(2)
    )
    assert sorted(d for d in os.listdir(out) if d.startswith("p=")) == ["p=0", "p=1"]
    assert _litter(str(tmp_path)) == []
