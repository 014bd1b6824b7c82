"""The benchmark's names for the program's functions resolve.

``perfbench/spans.py:PROGRAM_CALLS`` lists, per module, the public
functions the traced benchmark wraps with timing spans;
``Tracer.instrument`` raises ``AttributeError`` on a name that no
longer exists. Checking the names here makes a rename or a removal in
the package fail the tests instead of the traced benchmark run.
"""

from __future__ import annotations

import importlib
import os
import sys

import pytest

BENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
sys.path.insert(0, BENCH)

import spans  # noqa: E402


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
