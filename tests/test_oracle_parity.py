"""Local replica of the driver's t2 correctness gate.

Runs every registered query through Spark AND its DuckDB oracle at
sf0.01, then compares row count, column names, and an order-insensitive
EXACT value comparison (columns sorted by name, rows sorted by all
values, values compared as strings like the driver's hash — every
oracle-backed query is designed to be bit-identical across engines:
exact-decimal money aggregates, fixed-order double folds for floats).
A tolerance here would hide exactly the 1-ulp engine divergences the
real gate flags.

The fetch path is the HASH-FAITHFUL one from tools/parity_sweep (r5
verdict item 3): both sides round-trip through pandas (toPandas /
fetchdf) before stringification, because that is the dtype path the
driver hashes through. The previous fetchall() comparison converted
DuckDB HUGEINT to exact int and so passed q176 while the driver
failed it ("500" vs "500.0"); this harness now sees that class.

Each oracle runs with its CTEs marked MATERIALIZED
(``tools/parity_sweep.materialize_ctes``): the same rows, but DuckDB
evaluates each CTE once instead of once per reference, which took the
near-dup oracles from minutes to seconds.
"""

from __future__ import annotations

import os

import pytest

from tests.conftest import SF_ORACLE
from tools.parity_sweep import eq as _values_equal
from tools.parity_sweep import materialize_ctes
from tools.parity_sweep import norm as _normalize
from tools.parity_sweep import pdf_rows


def _all_specs():
    from ecowatt_etl_spark.queries.registry import all_queries

    return sorted(all_queries().values(), key=lambda s: s.name)


def _skip_without_reference_data(spec):
    """The qe dashboard queries read the reference's raw CSVs and their
    oracles its golden star, neither of which is in the repository."""
    from ecowatt_etl_spark.queries import ecowatt_queries

    if spec.fn.__module__ != ecowatt_queries.__name__:
        return
    for path in (ecowatt_queries.DATA_DIR, ecowatt_queries.GOLDEN_DIR):
        if not os.path.isdir(path):
            pytest.skip(f"reference data absent: {path} is not a directory")


@pytest.mark.parametrize("spec", _all_specs(), ids=lambda s: s.name)
def test_query_matches_oracle(spark, duck, spec):
    _skip_without_reference_data(spec)
    sdf = spec.fn(spark, SF_ORACLE)
    spark_cols = sdf.columns

    if spec.oracle is None:
        assert len(sdf.collect()) >= 0  # rows-only smoke: query must execute
        return

    spark_rows = pdf_rows(sdf.toPandas())
    res = duck.execute(materialize_ctes(spec.oracle))
    duck_cols = [d[0] for d in res.description]
    duck_rows = pdf_rows(res.fetchdf())

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{spec.name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{spec.name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    ns, nd = _normalize(spark_rows, spark_cols), _normalize(duck_rows, duck_cols)
    bad = [
        (i, rs, rd)
        for i, (rs, rd) in enumerate(zip(ns, nd))
        if not all(_values_equal(a, b) for a, b in zip(rs, rd))
    ]
    assert not bad, f"{spec.name}: {len(bad)} mismatched rows; first: {bad[:3]}"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_materialize_ctes_marks_only_cte_definitions():
    sql = (
        "WITH RECURSIVE a AS (SELECT 1 AS x), b AS (\n  WITH c AS (FROM a) SELECT * FROM c),\n"
        "d(y) AS (SELECT x FROM b)\n"
        "SELECT CAST(x AS DOUBLE) AS v, sum(x) OVER w FROM b, d WINDOW w AS (ORDER BY x)"
    )
    assert materialize_ctes(sql) == (
        "WITH RECURSIVE a AS MATERIALIZED (SELECT 1 AS x), b AS MATERIALIZED (\n"
        "  WITH c AS MATERIALIZED (FROM a) SELECT * FROM c),\n"
        "d(y) AS (SELECT x FROM b)\n"
        "SELECT CAST(x AS DOUBLE) AS v, sum(x) OVER w FROM b, d WINDOW w AS (ORDER BY x)"
    )


@pytest.mark.parametrize(
    "name", ["q100_curation_e2e", "q102_mixture_resample", "q114_min_cost_supplier"]
)
def test_materialized_oracle_returns_the_same_rows(duck, name):
    from ecowatt_etl_spark.queries.registry import all_queries

    oracle = all_queries()[name].oracle
    assert materialize_ctes(oracle) != oracle

    def rows(sql):
        res = duck.execute(sql)
        cols = [d[0] for d in res.description]
        return cols, _normalize(pdf_rows(res.fetchdf()), cols)

    assert rows(materialize_ctes(oracle)) == rows(oracle)
