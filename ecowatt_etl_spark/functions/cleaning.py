"""Scalar expression + cleaning library (SURVEY §2.3 F1–F13, §2.2 P1/P7).

Pure Column-expression builders — everything stays inside whole-stage
codegen; no Python UDFs. Each function notes the reference behavior it
reproduces (file:line in /root/reference) and any pandas↔Spark semantic
gap it closes (NaN vs NULL, regex empty-string vs NULL, literal vs
regex split).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


# --------------------------------------------------------------------------
# P1: header normalization
# --------------------------------------------------------------------------
def normalize_header(name: str) -> str:
    """Normalize one raw CSV header: trim, drop trailing ';', strip a
    bracketed/parenthesised unit suffix, spaces → '_', uppercase-safe.

    Reference reads headers like ``LISTED PRICE ($AUD)`` /
    ``RANGE (km)`` but addresses ``LISTED_PRICE`` / ``RANGE``
    (reference main.py:49,58,62 vs data/Ev_Population.csv:1); its own
    normalization is only strip + rstrip(';') (main.py:36,46,88) because
    the blob copy already had underscore headers. This closes the gap so
    the pipeline runs on the shipped local files.
    """
    import re

    n = name.strip().rstrip(";").strip()
    n = re.sub(r"\s*[\(\[][^\)\]]*[\)\]]\s*$", "", n)  # trailing (unit) / [unit]
    n = re.sub(r"\s+", "_", n.strip())
    return n


def normalize_headers(df: DataFrame) -> DataFrame:
    """Apply :func:`normalize_header` to every column (P1)."""
    seen: dict[str, int] = {}
    out = []
    for c in df.columns:
        n = normalize_header(c) or "_blank"
        if n in seen:  # raw EV csv has an anonymous empty column (';;')
            seen[n] += 1
            n = f"{n}_{seen[n]}"
        else:
            seen[n] = 0
        out.append(n)
    return df.toDF(*out)


# --------------------------------------------------------------------------
# F1–F7: string / date scalars
# --------------------------------------------------------------------------
def trim(col: str | Column) -> Column:
    """F1 — value trim (reference main.py:52,64,101)."""
    return F.trim(_c(col))


def regexp_extract_null(col: str | Column, pattern: str, group: int = 1) -> Column:
    """F2 — regex extract with NULL (not '') on no-match.

    pandas ``str.extract`` yields NaN when the pattern misses
    (reference main.py:55,130); Spark's ``regexp_extract`` yields ''.
    NULL-on-miss is what downstream casts/aggregates need.
    """
    return F.nullif(F.regexp_extract(_c(col), pattern, group), F.lit(""))


def strip_literal(col: str | Column, literal: str) -> Column:
    """F3 — literal (non-regex) substring removal, e.g. footnote '*'
    from prices (reference main.py:58). pandas str.replace is literal;
    Spark regexp_replace is regex — escape the needle."""
    import re

    return F.regexp_replace(_c(col), re.escape(literal), "")


def try_double(col: str | Column) -> Column:
    """F4 — safe numeric cast: junk → NULL, mirroring
    ``pd.to_numeric(errors='coerce')`` → NaN (reference main.py:59,62)."""
    return _c(col).try_cast(T.DoubleType())


def split_first(col: str | Column, sep: str = "+") -> Column:
    """F5 — split on a literal separator, keep element 0, trim
    ("Waterloo + Moore Park" → "Waterloo", reference main.py:101).
    Spark split() is regex — escape the separator."""
    import re

    return F.trim(F.split(_c(col), re.escape(sep)).getItem(0))


def title_case(col: str | Column) -> Column:
    """F6 — title-case station names ("RANDWICK" → "Randwick",
    reference main.py:131). F.initcap matches pandas str.title on the
    space-separated names present in this domain."""
    return F.initcap(F.lower(_c(col)))


def parse_dayfirst_date(col: str | Column, fmt: str = "d/M/yyyy") -> Column:
    """S3/F7 — day-first date parse ('31/12/2022'); pandas gets this via
    ``dayfirst=True`` (reference main.py:33-34), Spark needs the
    explicit pattern."""
    return F.to_date(_c(col), fmt)


# --------------------------------------------------------------------------
# F8–F11: guarded math
# --------------------------------------------------------------------------
def pct_change(prev: str | Column, curr: str | Column) -> Column:
    """F8 — (curr − prev) / prev × 100 (reference main.py:104-106).

    try_divide: NULL on a zero base (pandas yields ±inf there; both are
    scrubbed to 0 at the fact stage). Also keeps the expression valid
    under ANSI mode (Spark 4 default) where bare x/0 throws.
    """
    return F.try_divide(_c(curr) - _c(prev), _c(prev)) * 100.0


def guarded_div(num: str | Column, denom: str | Column, cap: float = 1e15) -> Column:
    """F9 — division with the reference's row-wise guards
    (reference main.py:304-331): denom ≤ 0 or NULL → 0; non-finite or
    > cap result → 0. Pure ``when`` chain — codegen'd, no UDF."""
    n, d = _c(num), _c(denom)
    ratio = F.try_divide(n, d)  # ANSI-safe; the when-chain masks it anyway
    return (
        F.when(d.isNull() | (d <= 0), F.lit(0.0))
        .when(n.isNull(), F.lit(0.0))
        .when(F.isnan(ratio) | (F.abs(ratio) > cap), F.lit(0.0))
        .otherwise(ratio)
    )


def scrub_nonfinite(col: str | Column, fill: float = 0.0) -> Column:
    """F10 — NULL/NaN/±Inf → fill (reference main.py:266-267,283-284,
    334-335: replace([inf,-inf],0) + fillna(0))."""
    c = _c(col)
    return (
        F.when(c.isNull() | F.isnan(c) | (F.abs(c) == F.lit(float("inf"))), F.lit(fill))
        .otherwise(c)
    )


def round_doubles(df: DataFrame, scale: int = 6) -> DataFrame:
    """F11 — round every double column to `scale` dp
    (reference main.py:338-340 rounds all float cols to 6 dp)."""
    doubles = {f.name for f in df.schema.fields if isinstance(f.dataType, T.DoubleType)}
    return df.select(
        *[F.round(F.col(c), scale).alias(c) if c in doubles else F.col(c) for c in df.columns]
    )


# --------------------------------------------------------------------------
# F13: min–max normalization
# --------------------------------------------------------------------------
def minmax_normalize(
    df: DataFrame,
    cols: list[str],
    invert: set[str] | None = None,
    out_suffix: str = "_score",
) -> DataFrame:
    """F13 — global min–max scaling to [0,100]; inverted for
    lower-is-better metrics; degenerate range (min==max) → 50
    (reference app.py:352-359,388-398).

    Scale path: the min/max aggregate is a single tiny 1-row frame; it
    is broadcast-cross-joined onto the data, so the normalization pass
    is one scan + one map stage — no per-column collect round-trips.
    """
    invert = invert or set()
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"__min_{c}"), F.max(c).alias(f"__max_{c}")]
    bounds = df.agg(*aggs)
    joined = df.crossJoin(F.broadcast(bounds))
    for c in cols:
        lo, hi = F.col(f"__min_{c}"), F.col(f"__max_{c}")
        span = hi - lo
        scaled = (F.col(c) - lo) / span * 100.0
        if c in invert:
            scaled = 100.0 - scaled
        joined = joined.withColumn(
            c + out_suffix, F.when(span == 0, F.lit(50.0)).otherwise(scaled)
        )
    return joined.drop(*[f"__min_{c}" for c in cols], *[f"__max_{c}" for c in cols])


# --------------------------------------------------------------------------
# P7: dict-map recode
# --------------------------------------------------------------------------
def recode(col: str | Column, mapping: dict[str, str], default_to_input: bool = True) -> Column:
    """P7 — value recode via a literal map (station → suburb,
    reference main.py:134-146). Implemented as a Catalyst literal MAP
    lookup — constant-folded, no join, no shuffle; for maps too big to
    inline as literals use a broadcast join instead."""
    pairs: list[Column] = []
    for k, v in mapping.items():
        pairs += [F.lit(k), F.lit(v)]
    looked = F.element_at(F.create_map(*pairs), _c(col))
    if default_to_input:
        return F.coalesce(looked, _c(col))
    return looked
