"""Spans around the benchmark's calls into the program's layers.

A span is (name, start, end, parent op); the op is the benchmark
operation (one request, one ETL stage, one curation job) the call ran
for. Spans live in memory and are written out once, when the run ends.
A layer's self time is its spans' total minus the time of their child
spans.

``Tracer.instrument`` replaces public functions of the program's
modules with timing wrappers, so calls the program makes internally
(the plan guard inside ``write_star_schema``, the parquet writes inside
it) are timed too. The wrappers record nothing while ``enabled`` is
false, which is how one traced run also times an untraced pass.
"""

from __future__ import annotations

import functools
import importlib
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

# module -> (function names, span name prefix); wrapped before the query
# modules are imported so their module-level imports bind the wrappers
PROGRAM_CALLS = {
    "ecowatt_etl_spark.session": (["evict_session_artifacts"], "session"),
    "ecowatt_etl_spark.sources.csv_sources": (
        ["read_ev_population", "read_electricity", "read_pollution"],
        "sources",
    ),
    "ecowatt_etl_spark.sources.tables": (["load_table"], "sources"),
    "ecowatt_etl_spark.sources.upsert": (["merge_upsert", "scd2_apply"], "sources"),
    "ecowatt_etl_spark.plans.ecowatt_pipeline": (
        ["run_pipeline", "write_star_schema", "register_star_views"],
        "plans",
    ),
    "ecowatt_etl_spark.plans.guard": (["assert_scalable"], "plans"),
    "ecowatt_etl_spark.streaming.events_stream": (["run_to_completion"], "streaming"),
}
# DataFrameWriter sinks: the I/O half of the sources layer
WRITER_CALLS = ("parquet", "csv", "json", "orc", "save", "saveAsTable", "insertInto")


@dataclass
class Span:
    name: str
    start: float
    end: float
    op: str
    parent: int  # index of the parent span, -1 for an op's root


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    # -- recording ----------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def op(self, name: str, op_id: str):
        """Root span of one benchmark operation."""
        self._local.op = op_id
        with self.span(name):
            yield

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        span = Span(name, time.perf_counter(), 0.0, getattr(self._local, "op", ""),
                    stack[-1] if stack else -1)
        with self._lock:
            idx = len(self.spans)
            self.spans.append(span)
        stack.append(idx)
        try:
            yield
        finally:
            span.end = time.perf_counter()
            stack.pop()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def instrument(self) -> None:
        from pyspark.sql import DataFrameWriter

        for mod_name, (names, layer) in PROGRAM_CALLS.items():
            mod = importlib.import_module(mod_name)
            for n in names:
                setattr(mod, n, self.wrap(getattr(mod, n), f"{layer}.{n}"))
        for n in WRITER_CALLS:
            setattr(DataFrameWriter, n, self.wrap(getattr(DataFrameWriter, n), "sources.write"))

    # -- analysis -----------------------------------------------------------
    def totals(self, top_level_only: bool = False) -> dict[str, float]:
        """Seconds per span name; with ``top_level_only`` a span nested in
        a span of the same layer is not counted again."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if top_level_only and s.parent >= 0:
                p = self.spans[s.parent]
                if p.name.split(".")[0] == s.name.split(".")[0]:
                    continue
            out[s.name] += s.end - s.start
        return out

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time of child spans."""
        child: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent >= 0:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s.name] += s.end - s.start - child[i]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": s.name, "op": s.op, "parent": s.parent,
                    "start": s.start, "end": s.end,
                }) + "\n")
