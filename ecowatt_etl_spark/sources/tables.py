"""Parquet scans over the synthetic warehouse (TPC-H-ish star schema).

Spark equivalent of the reference's table-scan surface: the reference
pulls whole tables from Azure SQL with ``SELECT * FROM t``
(reference app.py:70-77) and re-reads CSV blobs per run
(reference utils/datsetup.py:89-96). Here every scan is a lazy Parquet
read — column pruning and predicate pushdown reach the file scan via
Catalyst, so "SELECT *" pull-everything semantics never happen unless a
query actually needs everything.
"""

from __future__ import annotations

import os
import threading
import weakref
from typing import Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ecowatt_etl_spark.cache import ArtifactCache

V = TypeVar("V")

# The scale the driver's DuckDB value-check runs at. Oracle SQL strings
# are fixed at import time and cannot take sf_dir, so queries whose
# oracle must reference a filesystem path embed THIS directory — keep
# it the single source of truth (tests/conftest.py's SF_ORACLE must
# match).
ORACLE_SF_DIR = "/root/testdata/sf0.01"

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Timestamp-bearing columns per table: normalized at scan time because
# the testdata generator has shipped different parquet physical shapes
# across driver rounds (nanos-as-long, tz-less micros/NTZ, adjusted
# micros) — see load_table's docstring.
_TS_COLUMNS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


# Parquet confs the inferred schema depends on: part of the schema memo's
# key, so a session that reads the same file differently gets its own entry.
_INFER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)

# file_memo's entries (schemas, corpus counts) hold no executor blocks and
# are never stale, so they are not session artifacts
_FILE_MEMO = ArtifactCache(session_artifacts=False)
_GUARD = threading.Lock()
# sessions whose timestamp confs load_table has pinned; held weakly so a
# stopped session's slot cannot be inherited by a new one
_PINNED: weakref.WeakSet = weakref.WeakSet()


def _file_version(path: str) -> tuple | None:
    """Identity of the bytes at a local path: (absolute path, size,
    mtime_ns) for a file; for a directory, the absolute path and the
    sorted (relative name, size, mtime_ns) listing of every file under
    it. None for a path that is not local or is changing under the
    listing — the caller then computes without the memo."""
    root = os.path.abspath(path)
    try:
        if os.path.isfile(root):
            st = os.stat(root)
            return (root, st.st_size, st.st_mtime_ns)
        if not os.path.isdir(root):
            return None
        listing = []
        for d, _, files in os.walk(root):
            for f in files:
                st = os.stat(os.path.join(d, f))
                rel = os.path.relpath(os.path.join(d, f), root)
                listing.append((rel, st.st_size, st.st_mtime_ns))
        return (root, tuple(sorted(listing)))
    except OSError:
        return None


def file_memo(path: str, tag: tuple, build: Callable[[], V]) -> V:
    """``build()``, computed once per ``tag`` and version of the file (or
    directory) at ``path`` in this process, for values derived from the
    file's bytes alone. Rewriting the file changes its version, so the
    next call builds again; concurrent first calls build once."""
    version = _file_version(path)
    if version is None:
        return build()
    return _FILE_MEMO.get((tag, version), build)


def inferred_schema(spark: SparkSession, path: str, glob: str | None = None) -> StructType:
    """The parquet schema Spark infers for ``path`` (a Spark job), read
    only from the files matching ``glob`` when given; memoised by
    ``file_memo`` per version of ``path`` and per the confs inference
    reads (``_INFER_CONFS``), so a warm call launches no job and a
    rewritten file is inferred again."""
    def infer() -> StructType:
        reader = spark.read if glob is None else spark.read.option("pathGlobFilter", glob)
        return reader.parquet(path).schema

    confs = tuple(spark.conf.get(k) for k in _INFER_CONFS)
    return file_memo(path, ("schema", glob, confs), infer)


def pin_timestamp_confs(spark: SparkSession) -> None:
    """Enable nanosAsLong and pin the session zone to UTC, once per
    session: the side effect load_table documents, shared by the
    streaming events reader."""
    with _GUARD:
        if spark in _PINNED:
            return
        # runtime-settable; needed even when the caller's session was not
        # built by get_spark (e.g. the verification driver's own session)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # the NTZ→LTZ cast in load_table is only deterministic under a
        # pinned zone
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        _PINNED.add(spark)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy columnar scan of one warehouse table.

    Schema memo: the parquet schema Spark infers (a Spark job) is
    memoised by ``file_memo``, keyed on the file's version — absolute
    path, size and ``mtime_ns``, or for a directory the listing of its
    files — and on the parquet confs inference reads (``_INFER_CONFS``).
    Later calls read with that schema and launch no job; a table
    rewritten in place gets a new key and is inferred again, never
    served stale. Only the schema is memoised: every call returns a
    FRESH relation with its own attribute ids, so two loads of one
    table self-join like two independent scans. Registry results keep
    that property: a call answered from a prepared plan
    (``queries/registry.py``) returns a new root that re-aliases every
    output column, so two results of one query join like two
    independent scans too.

    Timestamp normalization — the synthetic warehouse has been written
    by several parquet producers across driver rounds, so ``events.ts``
    arrives in one of three physical shapes and is normalized to a
    session-zone TIMESTAMP (micros) here, at the single scan wrapper:

    * TIMESTAMP(NANOS): surfaces as epoch-nano longs under
      spark.sql.legacy.parquet.nanosAsLong → truncate to micros
      (bit-identical to DuckDB's nanos→micros cast).
    * TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4 infers
      TIMESTAMP_NTZ (parquet.inferTimestampNTZ default on), which the
      chronological operators (unix_micros, window, range frames)
      reject → cast to TIMESTAMP. The session zone is pinned to UTC
      (session.py), so the cast is value-preserving and matches
      DuckDB's naive-timestamp reading of the same file.
    * TIMESTAMP(MICROS, adjusted): already TIMESTAMP — no-op.

    SIDE EFFECT, by design: the first scan of a timestamp-bearing table
    (events/orders/lineitem) in a session pins that CALLER session's
    ``spark.sql.session.timeZone`` to UTC (and enables ``nanosAsLong``)
    for the remainder of the session. The confs are written once per
    session (tracked weakly, by session object), not on every call —
    the NTZ→LTZ cast and the engine's formatted-timestamp outputs are
    only deterministic under a pinned zone, and the verification
    driver's plain session arrives unpinned. A non-UTC consumer session
    will see its timestamp FORMATTING (date_format, casts to string)
    switch to UTC after that first scan. That is the engine's
    documented contract — all published results are UTC; a caller
    needing wall-clock rendering in another zone should convert
    explicitly with from_utc_timestamp rather than rely on session-zone
    formatting.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ts_cols = _TS_COLUMNS.get(name, ())
    if ts_cols:
        pin_timestamp_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(inferred_schema(spark, path)).parquet(path)
    for col in ts_cols:
        if col not in df.columns:  # partial-schema fixtures (tests)
            continue
        ts_type = df.schema[col].dataType
        if isinstance(ts_type, T.LongType):
            df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
        elif col == "ts" and isinstance(ts_type, T.TimestampNTZType):
            # events.ts feeds unix_micros/window/range-frame operators,
            # which reject NTZ → cast. The date-like columns stay NTZ
            # when they arrive as NTZ: every consumer (string compares,
            # interval arithmetic, date_format) accepts NTZ, and an
            # unconditional cast would wrap the scan column in a
            # projection and break predicate pushdown on the date
            # filters (plan-asserted in tests/test_plans.py).
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register catalog temp views so the SQL surface (spark.sql) sees the
    warehouse — the engine's replacement for the reference's Azure SQL
    catalog (reference app.py:519-538 ad-hoc SQL path)."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
