"""Skew-mitigation operators: salted aggregation and salted joins.

AQE (enabled in session.py) splits skewed SHUFFLE partitions at
runtime, but two skew classes still need manual structure at 100 TB:

1. A single hot GROUP BY key whose partial aggregate is fine but whose
   final partition is one task — salt the key, aggregate twice. Partial
   map-side aggregation usually absorbs this; the two-stage form is for
   high-cardinality *values* per hot key (e.g. distinct-agg) where the
   map-side partial can't compress.
2. A sort-merge join with a hot join key — salt the big side with a
   deterministic n-way split and replicate the other side n×, turning
   one straggler task into n parallel ones.

Results are identical to the unsalted forms (asserted against the same
DuckDB oracles); only the physical distribution changes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SALT = "__salt"


def with_salt(df: DataFrame, n_salts: int, from_cols: list[str] | None = None) -> DataFrame:
    """Deterministic per-row salt in [0, n_salts): hash of the given
    (or all) columns — reproducible across retries, unlike rand()."""
    cols = [F.col(c) for c in (from_cols or df.columns)]
    return df.withColumn(SALT, F.pmod(F.hash(*cols), F.lit(n_salts)))


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: the big side gets a deterministic salt,
    the small side is replicated n_salts× (explode of a literal range),
    and the join key becomes (key, salt) — a hot key's rows land on
    n_salts reducers instead of one. Use when the small side is too big
    to broadcast but the key distribution is skewed; for broadcastable
    sides, plain broadcast join wins."""
    big_s = with_salt(big, n_salts)
    small_r = small.withColumn(
        SALT, F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    joined = big_s.join(small_r, on=[key, SALT], how=how)
    return joined.drop(SALT)
