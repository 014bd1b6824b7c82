"""Surrogate-key generation (SURVEY §2.7 O5).

The reference assigns ids with ``range(1, len(df)+1)`` on an in-memory
frame (reference main.py:218,225,255,271) and offsets a second batch by
``len(df)`` (main.py:288-291). Three distributed strategies, in order of
preference by table size:

1. ``add_surrogate_key`` — row_number over an explicit global order.
   Exact, contiguous, deterministic; the final numbering pass is a
   single-partition window, which is FINE for dimensions (small by
   definition) and WRONG for 100 TB facts.
2. ``add_hash_key`` — xxhash64 of the business key. O(1) per row, no
   shuffle, stable under re-runs and appends; not contiguous. The
   default for fact-scale keys.
3. ``add_zip_index`` — partition-offset ids (zipWithIndex): contiguous
   and parallel, but tied to the current partitioning, so only for
   one-shot materializations.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def add_surrogate_key(
    df: DataFrame, name: str, order_by: list[str], offset: int | Column = 0
) -> DataFrame:
    """Contiguous 1-based ids in a deterministic global order.

    ``offset`` reproduces the reference's second-batch id offset
    (main.py:288-291: 2022 fact ids start at len(df_2023)+1). A Column
    offset (e.g. a window count over the frame) is evaluated per row
    in the same pass, so the offset needs no action of its own.
    """
    w = W.orderBy(*[F.col(c) for c in order_by])
    key = F.row_number().over(w) + F.lit(offset)
    return df.withColumn(name, key.cast("long"))


def add_hash_key(df: DataFrame, name: str, cols: list[str]) -> DataFrame:
    """Stable 64-bit hash key of the business key — the 100 TB path:
    embarrassingly parallel, no global sort, append-safe."""
    return df.withColumn(name, F.xxhash64(*[F.col(c) for c in cols]))


def add_zip_index(df: DataFrame, name: str, offset: int = 0) -> DataFrame:
    """Contiguous 0-based ids without a global sort (zipWithIndex).

    Computes per-partition counts (cheap count job), then numbers rows
    inside each partition with the cumulative offset. The only RDD use
    in the engine — genuinely per-partition imperative logic.
    """
    out_fields = df.schema.fields

    def attach(split_index, it):
        base = offsets.value[split_index]
        for i, row in enumerate(it):
            yield (*row, base + i + offset)

    counts = df.rdd.mapPartitionsWithIndex(
        lambda i, it: [(i, sum(1 for _ in it))]
    ).collectAsMap()
    cum, offs = 0, {}
    for i in sorted(counts):
        offs[i] = cum
        cum += counts[i]
    offsets = df.sparkSession.sparkContext.broadcast(offs)

    from pyspark.sql import types as T

    schema = T.StructType([*out_fields, T.StructField(name, T.LongType(), False)])
    return df.sparkSession.createDataFrame(
        df.rdd.mapPartitionsWithIndex(attach), schema
    )
