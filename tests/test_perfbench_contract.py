"""The benchmark's names for the program's functions resolve.

``perfbench/spans.py:PROGRAM_CALLS`` lists, per module, the public
functions the traced benchmark wraps with timing spans;
``Tracer.instrument`` raises ``AttributeError`` on a name that no
longer exists. Checking the names here makes a rename or a removal in
the package fail the tests instead of the traced benchmark run.

``perfbench/workloads.py`` names the registry queries its workloads
run. Each must exist, and each serving query must be answered from the
registry's prepared plans once warm: an eager action added to one of
their builds would otherwise switch the plan cache off without a
failure.
"""

from __future__ import annotations

import importlib
import os
import sys

import pytest

BENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
sys.path.insert(0, BENCH)

import spans  # noqa: E402
import workloads  # noqa: E402

from tests.conftest import SF_SMOKE, jobs_in_group  # noqa: E402


@pytest.mark.parametrize("module", sorted(spans.PROGRAM_CALLS))
def test_every_wrapped_function_resolves(module):
    names, _ = spans.PROGRAM_CALLS[module]
    mod = importlib.import_module(module)
    missing = [n for n in names if not callable(getattr(mod, n, None))]
    assert not missing, f"{module} lacks {missing}"


def test_pipeline_calls_the_readers_by_module_global_name():
    """run_pipeline calls the CSV readers through names bound when its
    module is imported, so wrappers installed on ``csv_sources`` before
    that import are the functions it calls."""
    from ecowatt_etl_spark.plans import ecowatt_pipeline
    from ecowatt_etl_spark.sources import csv_sources

    names, _ = spans.PROGRAM_CALLS["ecowatt_etl_spark.sources.csv_sources"]
    for n in names:
        assert getattr(ecowatt_pipeline, n) is getattr(csv_sources, n), n
        assert n in ecowatt_pipeline.run_pipeline.__code__.co_names, n


def test_every_benchmark_query_is_registered():
    from ecowatt_etl_spark.queries.registry import all_queries

    names = set(all_queries())
    missing = [n for n in workloads.SERVING_QUERIES + workloads.ETL_QUERIES if n not in names]
    assert not missing, f"perfbench/workloads.py names unregistered queries {missing}"


@pytest.mark.parametrize("name", workloads.SERVING_QUERIES)
def test_serving_query_is_a_plan_cache_hit_on_its_third_call(spark, name):
    from ecowatt_etl_spark.queries import registry

    fn = registry.all_queries()[name].fn
    key = (spark, name, SF_SMOKE)
    fn(spark, SF_SMOKE)
    fn(spark, SF_SMOKE)
    kept = registry._PLANS._values.get(key)
    assert kept is not None, (
        f"{name}'s second build was not kept (a job, a stream or an unversioned input)"
    )
    _, jobs = jobs_in_group(spark, lambda: fn(spark, SF_SMOKE))
    assert jobs == 0 and registry._PLANS._values.get(key) is kept
