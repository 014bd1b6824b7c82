"""Surrogate-key generation (SURVEY §2.7 O5).

The reference assigns ids with ``range(1, len(df)+1)`` on an in-memory
frame (reference main.py:218,225,255,271) and offsets a second batch by
``len(df)`` (main.py:288-291). ``add_surrogate_key`` is row_number over
an explicit global order: exact, contiguous and deterministic. The
final numbering pass is a single-partition window, which is FINE for
dimensions (small by definition) and WRONG for 100 TB facts.
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

