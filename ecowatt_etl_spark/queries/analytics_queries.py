"""Advanced-analytics queries: per-group regression, grouped-map UDFs.

q90 computes ordinary-least-squares slope/intercept per event type with
EXACT cross-engine arithmetic: all sums (Σx, Σy, Σxy, Σx²) accumulate
in decimal (x is integer epoch-seconds, y fixed-point decimal(18,6)),
the numerator/denominator differences stay decimal-exact, and only the
final division runs in double after a string-routed cast — identical
bits in Spark and DuckDB. q91 is the same regression via
groupBy().applyInPandas — the grouped-map Arrow API the engine exposes
for per-group logic SQL can't express; its worker solves the closed
form in exact Python integers and routes the final divisions through
the same correctly-rounded conversions, so q90 ≡ q91 bit-for-bit —
including the degenerate all-equal-x branch, where both emit NULL
(try_divide / None) to match the oracle's NULL-on-zero-divisor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ecowatt_etl_spark.functions.exact import str_double as _d
from ecowatt_etl_spark.queries.registry import query
from ecowatt_etl_spark.sources.tables import load_table

_DEC_Y = "decimal(18,6)"
_DEC_WIDE = "decimal(38,6)"


# ---------------------------------------------------------------------------
# q90 — OLS slope/intercept per event type (exact-decimal closed form)
# ---------------------------------------------------------------------------
# shared with q91: the grouped-map twin reproduces q90's floats
# bit-for-bit (exact-int closed form + identical float routing)
_Q90_ORACLE = f"""
    WITH pts AS (
      SELECT event_type,
             epoch_us(ts) // 1000000 AS x,
             CAST(value AS DECIMAL(18,6)) AS y
      FROM events
    ),
    sums AS (
      SELECT event_type,
             COUNT(*) AS n,
             SUM(x) AS sx,
             CAST(SUM(y) AS DECIMAL(38,6)) AS sy,
             SUM(x * x) AS sxx,
             CAST(SUM(CAST(x AS DECIMAL(38,6)) * y) AS DECIMAL(38,6)) AS sxy
      FROM pts GROUP BY event_type
    )
    SELECT event_type, n,
           CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
             / CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE) AS slope,
           (CAST(CAST(sy AS VARCHAR) AS DOUBLE)
             - (CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
                / CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE))
               * CAST(CAST(sx AS VARCHAR) AS DOUBLE)) / n AS intercept
    FROM sums
    """


@query("q90_regr_by_type", oracle=_Q90_ORACLE)
def q90_regr_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS y = a·x + b per event type (x = epoch seconds, y = value),
    via the closed form over exact-decimal sums: one hash aggregate
    computes n, Σx, Σy, Σx², Σxy map-side; numerator n·Σxy − Σx·Σy and
    denominator n·Σx² − (Σx)² stay decimal-exact; only the final
    division is floating point (string-routed decimal→double cast, so
    both engines round identically). Scales like any single aggregate —
    the whole regression is 5 partial sums per group."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        "event_type",
        F.floor(F.unix_micros("ts") / 1_000_000).alias("x"),
        F.col("value").cast(_DEC_Y).alias("y"),
    )
    # x² and Σx·Σx exceed int64 (epoch-seconds squared ≈ 3e18/row) —
    # everything quadratic runs in decimal(38,0); DuckDB's BIGINT sums
    # auto-promote to 128-bit, so both engines stay exact
    sums = pts.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").cast(_DEC_WIDE).alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast(_DEC_WIDE) * F.col("y")).cast(_DEC_WIDE).alias("sxy"),
    )
    sx_dec = F.col("sx").cast("decimal(38,0)")
    num = (F.col("n") * F.col("sxy") - sx_dec * F.col("sy")).cast("string").cast("double")
    den = (F.col("n") * F.col("sxx") - sx_dec * sx_dec).cast("string").cast("double")
    # try_divide: an all-equal-x group zeroes the denominator — under
    # Spark 4's ANSI default a plain `/` THROWS there, while the
    # DuckDB oracle returns NULL; try_divide pins NULL on all paths
    # (q91's worker emits None on the same branch — r5 ADVICE)
    slope = F.try_divide(num, den)
    sy_d = F.col("sy").cast("string").cast("double")
    sx_d = F.col("sx").cast("string").cast("double")
    return sums.select(
        "event_type",
        "n",
        slope.alias("slope"),
        ((sy_d - slope * sx_d) / F.col("n")).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# q91 — the same regression via groupBy().applyInPandas (rows-only)
# ---------------------------------------------------------------------------
@query("q91_regr_grouped_map", oracle=_Q90_ORACLE)
def q91_regr_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map Arrow path: each event type's full point set arrives
    as ONE pandas DataFrame; the worker solves the OLS closed form in
    EXACT Python integer arithmetic (y lifted to integer micros, all
    quadratic sums unbounded ints), then routes the two final
    divisions through the same int→float64 correctly-rounded
    conversions q90's decimal→string→double casts use — so the output
    is bit-identical to q90 and shares its oracle (oracle-backed since
    round 5; the original numpy lstsq fit was not fold-order
    deterministic and kept this rows-only). The API template for
    per-group logic beyond SQL (model fits, seasonal decomposition,
    custom scoring). The group must fit one executor's memory — for
    100 TB groups, use the q90 aggregate form instead."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        "event_type",
        F.floor(F.unix_micros("ts") / 1_000_000).alias("x"),
        # integer micros via the decimal lift (the q92 pattern): exact
        # for the 2-dp money values, and integer sums are
        # order-independent — the whole point of the rework
        (F.col("value").cast(_DEC_Y) * 1_000_000).cast("long").alias("y_us"),
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        xs = [int(v) for v in pdf["x"]]
        ys = [int(v) for v in pdf["y_us"]]
        n = len(xs)
        sx, sy_us = sum(xs), sum(ys)
        sxx = sum(v * v for v in xs)
        sxy_us = sum(a * b for a, b in zip(xs, ys))
        # closed form over exact ints, float-routed exactly like q90:
        # n·sxy − sx·sy is a decimal(38,6) there, i.e. the exact int
        # (n·sxy_us − sx·sy_us) / 10⁶ — CPython int/int true division
        # is correctly rounded, the same single rounding as q90's
        # decimal→string→double cast; then one IEEE division.
        num = (n * sxy_us - sx * sy_us) / 10**6
        den = float(n * sxx - sx * sx)
        # den == 0 (all x equal in the group): q90's Spark Divide and
        # the DuckDB oracle both yield NULL on the zero divisor, so
        # emit None — NaN here would break the claimed q90≡q91
        # bit-identity on any constant-timestamp group (r5 ADVICE)
        slope = num / den if den else None
        sy_d = sy_us / 10**6
        intercept = (
            (sy_d - slope * float(sx)) / n if slope is not None else None
        )
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n": [n],
                "slope": [slope],
                "intercept": [intercept],
            }
        )

    return pts.groupBy("event_type").applyInPandas(
        fit, schema="event_type string, n long, slope double, intercept double"
    )


# ---------------------------------------------------------------------------
# q92 — statistical aggregates via exact integer moments
# ---------------------------------------------------------------------------
@query(
    "q92_stats_moments",
    oracle="""
    WITH pts AS (
      SELECT event_type,
             epoch_us(ts) // 1000000 AS x,
             CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
      FROM events
    ),
    sums AS (
      SELECT event_type,
             COUNT(*) AS n,
             SUM(CAST(x AS HUGEINT)) AS sx,
             SUM(CAST(v AS HUGEINT)) AS sv,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(v AS HUGEINT) * v) AS svv,
             SUM(CAST(x AS HUGEINT) * v) AS sxv
      FROM pts GROUP BY event_type
    )
    SELECT event_type, n,
           CAST(CAST(n * svv - sv * sv AS VARCHAR) AS DOUBLE)
             / (n * (n - 1)) / 1000000000000 AS var_value,
           sqrt(CAST(CAST(n * svv - sv * sv AS VARCHAR) AS DOUBLE)
             / (n * (n - 1)) / 1000000000000) AS stddev_value,
           CAST(CAST(n * sxv - sx * sv AS VARCHAR) AS DOUBLE)
             / (sqrt(CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE))
                * sqrt(CAST(CAST(n * svv - sv * sv AS VARCHAR) AS DOUBLE)))
             AS corr_ts_value
    FROM sums
    """,
)
def q92_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample variance / stddev of `value` and Pearson corr(ts, value)
    per event type — the statistical-aggregate surface — with EXACT
    cross-engine arithmetic. Built-in stddev/corr accumulate doubles in
    partition order (non-deterministic across engines AND across runs),
    so instead: value is fixed-point-scaled to an integer (×1e6,
    exact via decimal), every moment (Σv, Σv², Σxv, …) accumulates in
    38-digit integer decimals (DuckDB: HUGEINT), the variance/corr
    numerators stay integer-exact, and only the final divisions and
    sqrts run in double (correctly rounded ⇒ identical bits). corr is
    affine-invariant so the ×1e6 scaling cancels; variance divides by
    1e12 once, in double. One hash aggregate, map-side partials — the
    same scale shape as any grouped sum."""
    ev = load_table(spark, sf_dir, "events")
    dec38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    pts = ev.select(
        "event_type",
        F.floor(F.unix_micros("ts") / 1_000_000).alias("x"),
        (F.col("value").cast(_DEC_Y) * 1_000_000).cast("long").alias("v"),
    )
    s = pts.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(dec38(F.col("x"))).alias("sx"),
        F.sum(dec38(F.col("v"))).alias("sv"),
        F.sum(dec38(F.col("x")) * F.col("x")).alias("sxx"),
        F.sum(dec38(F.col("v")) * F.col("v")).alias("svv"),
        F.sum(dec38(F.col("x")) * F.col("v")).alias("sxv"),
    )
    num_v = (dec38(F.col("n")) * F.col("svv") - F.col("sv") * F.col("sv")).cast(
        "double"
    )
    num_x = (dec38(F.col("n")) * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    num_xv = (dec38(F.col("n")) * F.col("sxv") - F.col("sx") * F.col("sv")).cast(
        "double"
    )
    var_v = num_v / (F.col("n") * (F.col("n") - 1)) / F.lit(1_000_000_000_000)
    return s.select(
        "event_type",
        "n",
        var_v.alias("var_value"),
        F.sqrt(var_v).alias("stddev_value"),
        (num_xv / (F.sqrt(num_x) * F.sqrt(num_v))).alias("corr_ts_value"),
    )


# ---------------------------------------------------------------------------
# q103 — Welch's t-test vs a baseline group (exact-moment A/B primitive)
# ---------------------------------------------------------------------------
_TT_BASELINE = "view"


@query(
    "q103_welch_ttest",
    oracle=f"""
    WITH pts AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
      FROM events
    ),
    sums AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(CAST(v AS HUGEINT)) AS sv,
             SUM(CAST(v AS HUGEINT) * v) AS svv
      FROM pts GROUP BY event_type
    ),
    stats AS (
      SELECT event_type, n,
             CAST(CAST(sv AS VARCHAR) AS DOUBLE) / n / 1000000 AS mean_v,
             CAST(CAST(n * svv - sv * sv AS VARCHAR) AS DOUBLE)
               / (n * (n - 1)) / 1000000000000 AS var_v
      FROM sums
    )
    SELECT a.event_type,
           CAST(a.n AS BIGINT) AS n,
           a.mean_v AS mean_value,
           (a.mean_v - b.mean_v)
             / sqrt(a.var_v / a.n + b.var_v / b.n) AS t_stat
    FROM stats a, (SELECT * FROM stats WHERE event_type = '{_TT_BASELINE}') b
    WHERE a.event_type <> '{_TT_BASELINE}'
    """,
)
def q103_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t-statistic of every event type's `value` against the
    '{baseline}' group — the A/B-experiment readout, computed from the
    q92 exact-moment machinery: fixed-point integer moments (decimal-38
    sums, integer-exact variance numerators), with ONLY the final
    mean/variance divisions, the subtraction, and the sqrt in double —
    each correctly rounded, so both engines emit identical bits with
    no tolerance.

    Scale shape: one map-side-combined aggregate to |event_types| rows;
    the baseline row broadcasts into a |types|-row join. The same
    moments serve mean, variance, and t in one pass — no second scan
    per statistic.
    """
    ev = load_table(spark, sf_dir, "events")
    dec38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    pts = ev.select(
        "event_type",
        (F.col("value").cast(_DEC_Y) * 1_000_000).cast("long").alias("v"),
    )
    sums = pts.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(dec38(F.col("v"))).alias("sv"),
        F.sum(dec38(F.col("v")) * F.col("v")).alias("svv"),
    )
    stats = sums.select(
        "event_type",
        "n",
        (F.col("sv").cast("double") / F.col("n") / 1_000_000).alias("mean_v"),
        (
            (dec38(F.col("n")) * F.col("svv") - F.col("sv") * F.col("sv")).cast("double")
            / (F.col("n") * (F.col("n") - 1))
            / 1_000_000_000_000
        ).alias("var_v"),
    )
    base = F.broadcast(
        stats.filter(F.col("event_type") == _TT_BASELINE).select(
            F.col("n").alias("bn"), F.col("mean_v").alias("bmean"), F.col("var_v").alias("bvar")
        )
    )
    return (
        stats.filter(F.col("event_type") != _TT_BASELINE)
        .crossJoin(base)
        .select(
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.col("mean_v").alias("mean_value"),
            (
                (F.col("mean_v") - F.col("bmean"))
                / F.sqrt(F.col("var_v") / F.col("n") + F.col("bvar") / F.col("bn"))
            ).alias("t_stat"),
        )
    )


# ---------------------------------------------------------------------------
# q151 — grouped-aggregate Pandas UDF (custom UDAF surface)
# ---------------------------------------------------------------------------
@query(
    "q151_grouped_agg_udaf",
    oracle="""
    SELECT event_type,
           CAST(bit_xor(event_id) AS BIGINT) AS xor_id,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY event_type
    """,
)
def q151_grouped_agg_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF via a GROUPED_AGG pandas_udf — the last Arrow UDx
    shape in the surface (scalar pandas_udf, grouped-map applyInPandas,
    mapInPandas, applyInPandasWithState, and UDTF are covered
    elsewhere): each group's column arrives as ONE pandas Series and
    the UDF reduces it to a scalar. The demo aggregate is a bitwise
    XOR reduction — order-independent and integer-exact, so the
    grouped-agg path itself gets an exact cross-engine check (DuckDB
    bit_xor), with none of the float-summation caveats that keep q91
    rows-only. Spark cannot mix grouped-agg pandas UDFs with built-in
    aggregates in one agg() (INVALID_PANDAS_UDF_PLACEMENT), so the
    count rides a second tiny pandas aggregate. Scale shape: standard
    two-phase is NOT available for opaque UDAFs — all rows of a group
    ship to one executor via the groupBy shuffle, Arrow-batched; fine
    for bounded groups (5 event types here), and the reason the
    engine's own aggregates (exact.py) stay expression-based where
    partial aggregation matters."""
    # explicit functionType: this module uses postponed annotations
    # (future import), which turn type hints into strings and break
    # pandas_udf's hint-based eval-type inference
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def xor_agg(v):
        import numpy as np

        return int(np.bitwise_xor.reduce(v.to_numpy(dtype="int64")))

    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def count_agg(v):
        return int(len(v))

    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        xor_agg("event_id").alias("xor_id"),
        count_agg("event_id").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# q172 — chi-square independence test: event_type × A/B variant
# ---------------------------------------------------------------------------
@query(
    "q172_chisq_variant",
    oracle="""
    WITH cells AS (
      SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS BIGINT) % 2 AS variant,
             COUNT(*) AS o
      FROM events GROUP BY 1, 2
    ),
    m AS (SELECT event_type, SUM(o) AS rt FROM cells GROUP BY 1),
    c AS (SELECT variant, SUM(o) AS ct FROM cells GROUP BY 1),
    t AS (SELECT SUM(o) AS n FROM cells)
    SELECT cells.event_type, cells.variant,
           CAST(o AS BIGINT) AS observed,
           CAST(CAST(rt * ct AS VARCHAR) AS DOUBLE) / n AS expected,
           CAST(CAST(CAST(o * n - rt * ct AS HUGEINT)
                     * (o * n - rt * ct) AS VARCHAR) AS DOUBLE)
             / CAST(CAST(CAST(n AS HUGEINT) * rt * ct AS VARCHAR) AS DOUBLE)
             AS chi2_term
    FROM cells
    JOIN m ON cells.event_type = m.event_type
    JOIN c ON cells.variant = c.variant
    CROSS JOIN t
    """,
)
def q172_chisq_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test for the event_type × experiment-
    variant contingency table (variant = props.k mod 2 — the hash-
    bucket assignment an A/B platform derives from a feature flag).
    Emits the per-cell decomposition — observed, expected, and the
    (O−E)²/E term — which is what an experimenter actually reads
    (WHICH cell drives the statistic); the global χ² is the sum of a
    fixed, tiny set of terms (|types|×|variants| rows).

    Exactness: observed counts and both marginals are integers, so
    O·N − rt·ct is exact (decimal/HUGEINT through the square, far
    past int64); expected and the χ² term are string-routed
    correctly-rounded conversions plus one division each —
    bit-identical cross-engine, the q103/q92 discipline. Scale: one
    map-side-combined (type, variant) count over the scan; marginals
    re-aggregate the TINY cell table, never the events; three
    broadcast joins of sub-kilobyte frames."""
    from ecowatt_etl_spark.sources.tables import load_table as _lt

    ev = _lt(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type",
        (F.get_json_object("props", "$.k").cast("long") % 2).alias("variant"),
    ).agg(F.count("*").alias("o"))
    m = cells.groupBy("event_type").agg(F.sum("o").alias("rt"))
    c = cells.groupBy("variant").agg(F.sum("o").alias("ct"))
    t = cells.agg(F.sum("o").alias("n"))
    j = (
        cells.join(F.broadcast(m), "event_type")
        .join(F.broadcast(c), "variant")
        .crossJoin(F.broadcast(t))
    )
    diff = (F.col("o") * F.col("n") - F.col("rt") * F.col("ct")).cast("decimal(19,0)")
    num = (diff * diff).cast("decimal(38,0)")
    den = (
        F.col("n").cast("decimal(38,0)") * F.col("rt") * F.col("ct")
    ).cast("decimal(38,0)")
    return j.select(
        "event_type",
        "variant",
        F.col("o").cast("long").alias("observed"),
        (
            (F.col("rt") * F.col("ct")).cast("decimal(38,0)")
            .cast("string")
            .cast("double")
            / F.col("n")
        ).alias("expected"),
        (
            num.cast("string").cast("double")
            / den.cast("string").cast("double")
        ).alias("chi2_term"),
    )


# ---------------------------------------------------------------------------
# q190 — cogrouped applyInPandas: order-vs-lineitem reconciliation
# ---------------------------------------------------------------------------
@query(
    "q190_cogroup_order_audit",
    oracle="""
    WITH li AS (
      SELECT l_orderkey,
             COUNT(*) AS n_items,
             SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,6))
                      * CAST((1 - l_discount) AS DECIMAL(18,6))
                      * 1000000000000 AS HUGEINT) // 1000000) AS items_us
      FROM lineitem GROUP BY l_orderkey
    ),
    o AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 1000000 AS BIGINT)
               AS total_us
      FROM orders
    )
    SELECT o.o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN li.l_orderkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_itemless,
           CAST(SUM(CASE WHEN li.l_orderkey IS NOT NULL
                          AND li.items_us <> o.total_us THEN 1 ELSE 0 END)
                AS BIGINT) AS n_mismatched,
           CAST(MAX(CASE WHEN li.l_orderkey IS NOT NULL
                         THEN ABS(li.items_us - o.total_us) ELSE 0 END)
                AS BIGINT) AS max_abs_delta_us
    FROM o LEFT JOIN li ON li.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    """,
)
def q190_cogroup_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-vs-detail reconciliation through the COGROUP Arrow API —
    ``groupBy().cogroup().applyInPandas`` receives each order key's
    header rows AND its item rows as two aligned pandas frames, the
    shape for per-key logic that needs both sides at once without
    materializing the join (claims-vs-payments matching, ledger
    tie-outs). This completes the engine's Arrow-UDx inventory
    (pandas_udf q151, grouped-map q91, mapInPandas q81/q83, state
    q49/q133, UDTF q138 — cogroup was the one missing shape). Each
    order's item total is recomputed in int64 micro-units INSIDE the
    Python worker (pandas int64 arithmetic — deterministic, no float
    drift) and compared to the header total; per-status counts of
    itemless, matched, and mismatched orders aggregate the per-key
    verdicts. The oracle states the same semantics as a relational
    left join, so the exotic API path is value-gated against plain
    SQL — the parity discipline q91 applies to grouped-map.

    r12 measured-and-REJECTED (OPTIMIZATION_r12.md,
    plans/r12/q190_ab.jsonl): pre-reducing the per-order item totals
    in the JVM (guide §4's "ship decisions, not payloads") before the
    cogroup. Rows identical, but the pre-agg adds a full
    groupBy(l_orderkey) exchange ahead of the bucket
    exchange, and at the 100x replay that costs more than it saves at
    the Arrow boundary: old 25.7 s vs pre-reduced 27.9 s median,
    interleaved warm. The per-item shape keeps ONE corpus exchange
    and lets the per-bucket pandas body do the (vectorized) reduce.

    Scale — the cogroup key is a BUCKET of orders, not one order:
    cogrouping per natural key dispatches a Python call per tiny
    group (~4 rows here), and per-group overhead swamps the work
    (measured 52 s at sf0.1, vs 4.6 s bucketed — an 11× cliff).
    Bucketing by orderkey div 256 keeps cogroup's alignment
    guarantee (a bucket's headers and items arrive together) while
    the per-bucket pandas body runs VECTORIZED (one merge
    per ~256 orders). Both sides still shuffle once on the bucket
    key; this is the shape any per-entity Arrow logic should take
    when entities are small."""
    import pandas as pd

    o = load_table(spark, sf_dir, "orders").select(
        F.expr("o_orderkey DIV 256").alias("bucket"),
        "o_orderkey",
        "o_orderstatus",
        (F.col("o_totalprice").cast("decimal(18,6)") * 1_000_000)
        .cast("bigint")
        .alias("total_us"),
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.expr("l_orderkey DIV 256").alias("bucket"),
        "l_orderkey",
        # per-item micro-value floored exactly like the oracle's
        # HUGEINT // 1000000 (picounits → microunits) so pandas sums
        # the identical integers
        F.expr(
            "CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,6))"
            " * CAST((1 - l_discount) AS DECIMAL(18,6))"
            " * 1000000000000 AS DECIMAL(38,0)) DIV 1000000 AS BIGINT)"
        ).alias("item_us"),
    )

    def audit(key, odf: pd.DataFrame, ldf: pd.DataFrame) -> pd.DataFrame:
        items = (
            ldf.groupby("l_orderkey", as_index=False)["item_us"]
            .sum()
            .rename(columns={"l_orderkey": "o_orderkey", "item_us": "items_us"})
        )
        m = odf.merge(items, on="o_orderkey", how="left")
        itemless = m["items_us"].isna()
        out = pd.DataFrame(
            {
                "o_orderstatus": m["o_orderstatus"],
                "kind": "matched",
                "delta_us": 0,
            }
        )
        out.loc[itemless, "kind"] = "itemless"
        mism = ~itemless & (m["items_us"] != m["total_us"])
        out.loc[mism, "kind"] = "mismatched"
        delta = (m["items_us"] - m["total_us"]).abs()
        out.loc[mism, "delta_us"] = delta[mism].astype("int64")
        return out

    verdicts = (
        o.groupBy("bucket")
        .cogroup(li.groupBy("bucket"))
        .applyInPandas(
            audit, "o_orderstatus string, kind string, delta_us long"
        )
    )
    return verdicts.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.when(F.col("kind") == "itemless", 1).otherwise(0))
        .cast("long")
        .alias("n_itemless"),
        F.sum(F.when(F.col("kind") == "mismatched", 1).otherwise(0))
        .cast("long")
        .alias("n_mismatched"),
        F.max(F.when(F.col("kind") != "itemless", F.col("delta_us")).otherwise(0))
        .cast("long")
        .alias("max_abs_delta_us"),
    )


# ---------------------------------------------------------------------------
# q205 — Benford's-law first-digit audit over order totals
# ---------------------------------------------------------------------------
# log10(1 + 1/d) in basis points — a fixed table, NOT computed with
# log() at query time: ln/log10 are not correctly-rounded in every
# libm, and the audit only needs the standard reference proportions.
_BENFORD_BP = {1: 3010, 2: 1761, 3: 1249, 4: 969, 5: 792,
               6: 669, 7: 580, 8: 512, 9: 458}
_BENFORD_CASE = " ".join(
    f"WHEN {d} THEN {bp}" for d, bp in _BENFORD_BP.items()
)


@query(
    "q205_benford_audit",
    oracle=f"""
    WITH digits AS (
      SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT)
                                 AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice >= 1
    ),
    counts AS (
      SELECT digit, COUNT(*) AS n_obs FROM digits GROUP BY digit
    ),
    tot AS (SELECT SUM(n_obs) AS n FROM counts)
    SELECT c.digit,
           CAST(c.n_obs AS BIGINT) AS n_obs,
           CAST(c.n_obs * 10000 // t.n AS BIGINT) AS observed_bp,
           CAST(CASE c.digit {_BENFORD_CASE} END AS BIGINT) AS benford_bp,
           CAST(c.n_obs * 10000 // t.n
                - CASE c.digit {_BENFORD_CASE} END AS BIGINT) AS excess_bp
    FROM counts c CROSS JOIN tot t
    """,
)
def q205_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the
    fraud/synthetic-data screen auditors run on any money column:
    naturally-occurring amounts follow log10(1+1/d) first-digit
    frequencies, and fabricated or uniformly-generated ones (like
    this synthetic corpus — the audit SHOWS that, which is the
    point of an audit) do not. Observed shares are integer basis
    points; the Benford reference is a fixed table rather than a
    query-time log() (libm rounding is not engine-portable; the
    reference proportions are constants of mathematics), so every
    column of the report is integer-exact.

    Scale: one digit-extraction projection (string head of the
    floored integer — scan-local codegen) and one 9-group
    aggregate."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    digits = o.select(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        )
        .cast("long")
        .alias("digit")
    )
    counts = digits.groupBy("digit").agg(F.count("*").alias("n_obs"))
    tot = counts.agg(F.sum("n_obs").alias("n"))
    benford = F.expr(f"CASE digit {_BENFORD_CASE} END")
    return counts.crossJoin(F.broadcast(tot)).select(
        "digit",
        F.col("n_obs").cast("long").alias("n_obs"),
        F.expr("CAST(n_obs * 10000 DIV n AS BIGINT)").alias("observed_bp"),
        benford.cast("long").alias("benford_bp"),
        (F.expr("n_obs * 10000 DIV n") - benford)
        .cast("long")
        .alias("excess_bp"),
    )


# ---------------------------------------------------------------------------
# q206 — Gini concentration of customer revenue (whale analysis)
# ---------------------------------------------------------------------------
@query(
    "q206_gini_revenue",
    oracle="""
    WITH cust AS (
      SELECT o_custkey,
             SUM(CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 1000000
                      AS BIGINT)) AS v_us
      FROM orders GROUP BY o_custkey
    ),
    r AS (
      SELECT v_us,
             ROW_NUMBER() OVER (ORDER BY v_us, o_custkey) AS i,
             COUNT(*) OVER () AS n
      FROM cust
    ),
    s AS (
      SELECT MAX(n) AS n,
             SUM(CAST(i AS HUGEINT) * v_us) AS iwsum,
             SUM(CAST(v_us AS HUGEINT)) AS vsum
      FROM r
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(CAST(vsum AS VARCHAR) AS DOUBLE) / 1000000 AS total_revenue,
           CAST(CAST(2 * iwsum - (n + 1) * vsum AS VARCHAR) AS DOUBLE)
             / CAST(CAST(CAST(n AS HUGEINT) * vsum AS VARCHAR) AS DOUBLE)
             AS gini
    FROM s
    """,
)
def q206_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer revenue — the concentration
    number behind every "whale" conversation (how much of the book
    sits on how few customers), computed by the exact rank identity
    G = (2·Σ i·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx) over micro-unit integers:
    the rank weighting, both sums, and the numerator/denominator stay
    integral (HUGEINT/decimal), so the single displayed division is
    the only float op. Ranks tie-break on customer key, making the
    order statistic total.

    Scale: one per-customer aggregate, one global rank over the
    customer frame (the documented per-stratum variant partitions by
    segment and ranks within), one 3-value reduction. The customer
    frame, not the order fact, pays the sort."""
    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,6)") * 1_000_000).cast(
                "bigint"
            )
        ).alias("v_us")
    )
    w = W.orderBy("v_us", "o_custkey")
    r = cust.select(
        "v_us",
        F.row_number().over(w).alias("i"),
        F.count("*").over(W.partitionBy()).alias("n"),
    )
    s = r.agg(
        F.max("n").alias("n"),
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("v_us")).alias("iwsum"),
        F.sum(F.col("v_us").cast("decimal(38,0)")).alias("vsum"),
    )
    num = (
        F.lit(2) * F.col("iwsum") - (F.col("n") + 1) * F.col("vsum")
    ).cast("decimal(38,0)")
    den = (F.col("n").cast("decimal(38,0)") * F.col("vsum")).cast("decimal(38,0)")
    return s.select(
        F.col("n").cast("long").alias("n_customers"),
        (F.col("vsum").cast("string").cast("double") / 1_000_000).alias(
            "total_revenue"
        ),
        (
            num.cast("string").cast("double") / den.cast("string").cast("double")
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# q207 — market-basket association rules (support / confidence / lift)
# ---------------------------------------------------------------------------
_BASKET_MIN_SUP = 3  # minimum co-occurrence count
_BASKET_TOP = 20


@query(
    "q207_basket_rules",
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem
    ),
    nb AS (SELECT COUNT(DISTINCT okey) AS n_baskets FROM items),
    freq AS (SELECT part, COUNT(*) AS pf FROM items GROUP BY part),
    pairs AS (
      SELECT a.part AS part_a, b.part AS part_b, COUNT(*) AS pair_n
      FROM items a JOIN items b
        ON a.okey = b.okey AND a.part < b.part
      GROUP BY a.part, b.part
      HAVING COUNT(*) >= {_BASKET_MIN_SUP}
    ),
    rules AS (
      SELECT p.part_a, p.part_b, p.pair_n,
             fa.pf AS n_a, fb.pf AS n_b,
             CAST(p.pair_n * 10000 // fa.pf AS BIGINT) AS confidence_bp,
             CAST(CAST(CAST(p.pair_n AS HUGEINT) * nb.n_baskets AS VARCHAR)
                  AS DOUBLE)
               / CAST(CAST(CAST(fa.pf AS HUGEINT) * fb.pf AS VARCHAR)
                      AS DOUBLE) AS lift
      FROM pairs p
      JOIN freq fa ON fa.part = p.part_a
      JOIN freq fb ON fb.part = p.part_b
      CROSS JOIN nb
    )
    SELECT part_a, part_b, CAST(pair_n AS BIGINT) AS pair_n,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           confidence_bp, lift
    FROM rules
    ORDER BY lift DESC, part_a, part_b
    LIMIT {_BASKET_TOP}
    """,
)
def q207_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules — the classic co-purchase
    mining query (a→b support, confidence, lift) over order baskets:
    top-20 part pairs by LIFT among pairs co-ordered at
    least 3 times. Confidence is integer basis
    points; lift = (pair·N)/(nₐ·n_b) rides exact HUGEINT cross
    products into one string-routed division, so the ranking cut is
    deterministic (ties break on the pair).

    Scale: pair generation is the textbook basket explosion —
    bounded by Σ(basket size)² per ORDER, not per corpus; baskets
    here average ~4 items so the pair stream is ~6× orders, exploded
    in codegen from each basket's sorted distinct-part list (r12 —
    no self-join, see the body comment). For pathological
    mega-baskets the standard cap (drop baskets > K items, as the
    df-cap q54 does for shingles) bounds the quadratic term;
    min-support prunes before the stats joins. The per-part frequency table is CORPUS-SCALED
    (one row per distinct part — ~2M at 100×), so its join strategy
    is left to AQE: it broadcasts while it fits and shuffle-joins
    beyond (the r9 100× sweep caught the previous hint-forced
    broadcast dying in stage materialization with a build-side OOM —
    the same forced-corpus-broadcast class the r8 sweep caught in
    q175). Only the 1-row basket-count frame keeps the hint."""
    li = load_table(spark, sf_dir, "lineitem")
    # r12 (guide §2.3/§2.4, the q171/q246 grouped-pairs pattern): the
    # old shape materialized DISTINCT (okey, part) and SELF-JOINED it
    # on okey — the distinct shuffle plus two join-arm shuffles of the
    # item stream. Baskets are naturally small (≤7 lineitems per
    # order), so ONE groupBy(okey) collects each basket's sorted
    # distinct parts (bounded agg state — the distinct falls out of
    # collect_set) and i<j pairs explode in codegen; basket count and
    # per-part frequency ride the same materialized frame instead of
    # re-aggregating lineitem per consumer. The self-join and the
    # standalone distinct are gone; everything downstream of the one
    # basket shuffle is pair/part-sized.
    baskets = (
        li.groupBy(F.col("l_orderkey").alias("okey"))
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
        .localCheckpoint()
    )
    nb = baskets.agg(F.count("*").alias("n_baskets"))
    freq = (
        baskets.select(F.explode("parts").alias("part"))
        .groupBy("part")
        .agg(F.count("*").alias("pf"))
    )
    pair_structs = F.expr(
        """
        flatten(transform(parts, (a, i) ->
          transform(slice(parts, i + 2, size(parts)),
                    b -> struct(a AS part_a, b AS part_b))))
        """
    )
    pairs = (
        baskets.filter(F.size("parts") >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.part_a").alias("part_a"), F.col("p.part_b").alias("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("pair_n"))
        .filter(F.col("pair_n") >= _BASKET_MIN_SUP)
    )
    fa = freq.select(F.col("part").alias("part_a"), F.col("pf").alias("n_a"))
    fb = freq.select(F.col("part").alias("part_b"), F.col("pf").alias("n_b"))
    rules = (
        pairs.join(fa, "part_a")
        .join(fb, "part_b")
        .crossJoin(F.broadcast(nb))
    )
    lift = (
        (F.col("pair_n").cast("decimal(38,0)") * F.col("n_baskets"))
        .cast("decimal(38,0)")
        .cast("string")
        .cast("double")
        / (F.col("n_a").cast("decimal(38,0)") * F.col("n_b"))
        .cast("decimal(38,0)")
        .cast("string")
        .cast("double")
    )
    return (
        rules.select(
            "part_a",
            "part_b",
            F.col("pair_n").cast("long").alias("pair_n"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.expr("CAST(pair_n * 10000 DIV n_a AS BIGINT)").alias(
                "confidence_bp"
            ),
            lift.alias("lift"),
        )
        .orderBy(F.desc("lift"), "part_a", "part_b")
        .limit(_BASKET_TOP)
    )


# ---------------------------------------------------------------------------
# q208 — RFM customer segmentation (exact tercile scores)
# ---------------------------------------------------------------------------
@query(
    "q208_rfm_segments",
    oracle="""
    WITH cust AS (
      SELECT o_custkey,
             date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                       (SELECT CAST(MAX(o_orderdate) AS DATE) FROM orders))
               AS recency_days,
             COUNT(*) AS frequency,
             SUM(CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 1000000
                      AS BIGINT)) AS monetary_us
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT o_custkey, recency_days, frequency, monetary_us,
             NTILE(3) OVER (ORDER BY recency_days DESC, o_custkey) AS r_score,
             NTILE(3) OVER (ORDER BY frequency, o_custkey) AS f_score,
             NTILE(3) OVER (ORDER BY monetary_us, o_custkey) AS m_score
      FROM cust
    )
    SELECT r_score, f_score, m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(CAST(SUM(CAST(monetary_us AS HUGEINT)) AS VARCHAR) AS DOUBLE)
             / COUNT(*) / 1000000 AS avg_monetary,
           CAST(SUM(recency_days) AS BIGINT) AS sum_recency_days,
           CAST(SUM(frequency) AS BIGINT) AS sum_frequency
    FROM scored GROUP BY r_score, f_score, m_score
    """,
)
def q208_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the CRM workhorse: every customer scored
    1–3 on Recency (days since last order, HIGHER score = more
    recent via the DESC ntile), Frequency, and Monetary value, then
    rolled up per (R,F,M) cell with population and average spend.
    NTILE over a TOTAL order (metric, customer key) makes the
    tercile boundaries deterministic on both engines — the same
    discipline as every rank construction here — and monetary rides
    micro-unit integers into a string-routed average.

    Scale: one per-customer aggregate (plus a 1-row global max-date
    broadcast), three ntile windows over the customer frame sharing
    one global sort each (per-segment scoring at real scale
    partitions the ntile by segment), and a 27-cell rollup."""
    o = load_table(spark, sf_dir, "orders")
    gmax = o.agg(F.max(F.to_date("o_orderdate")).alias("gmax"))
    cust = (
        o.crossJoin(F.broadcast(gmax))
        .groupBy("o_custkey")
        .agg(
            F.datediff(F.max("gmax"), F.max(F.to_date("o_orderdate"))).alias(
                "recency_days"
            ),
            F.count("*").alias("frequency"),
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,6)") * 1_000_000).cast(
                    "bigint"
                )
            ).alias("monetary_us"),
        )
    )
    scored = cust.select(
        "recency_days",
        "frequency",
        "monetary_us",
        F.ntile(3)
        .over(W.orderBy(F.desc("recency_days"), F.asc("o_custkey")))
        .alias("r_score"),
        F.ntile(3).over(W.orderBy("frequency", "o_custkey")).alias("f_score"),
        F.ntile(3).over(W.orderBy("monetary_us", "o_custkey")).alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").alias("n_customers"),
        (
            F.sum(F.col("monetary_us").cast("decimal(38,0)"))
            .cast("string")
            .cast("double")
            / F.count("*")
            / 1_000_000
        ).alias("avg_monetary"),
        F.sum("recency_days").cast("long").alias("sum_recency_days"),
        F.sum("frequency").cast("long").alias("sum_frequency"),
    )


# ---------------------------------------------------------------------------
# q211 — CUPED variance reduction for the experimentation family
# ---------------------------------------------------------------------------
@query(
    "q211_cuped",
    oracle="""
    WITH ev AS (
      SELECT user_id, epoch_us(ts) AS tus,
             CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS yv
      FROM events
    ),
    b AS (SELECT (MIN(tus) + MAX(tus)) // 2 AS cutoff FROM ev),
    pu AS (
      SELECT user_id % 2 AS variant, user_id,
             SUM(CASE WHEN tus < b.cutoff THEN yv ELSE 0 END) AS x,
             SUM(CASE WHEN tus >= b.cutoff THEN yv ELSE 0 END) AS y
      FROM ev, b GROUP BY 1, 2
    ),
    pv AS (
      SELECT variant, CAST(COUNT(*) AS BIGINT) AS nv,
             CAST(SUM(x) AS HUGEINT) AS svx,
             CAST(SUM(y) AS HUGEINT) AS svy,
             SUM(CAST(x AS HUGEINT) * x) AS svxx,
             SUM(CAST(x AS HUGEINT) * y) AS svxy,
             SUM(CAST(y AS HUGEINT) * y) AS svyy
      FROM pu GROUP BY 1
    ),
    g AS (
      SELECT CAST(SUM(nv) AS BIGINT) AS n,
             CAST(SUM(svx) AS HUGEINT) AS sx, CAST(SUM(svy) AS HUGEINT) AS sy,
             CAST(SUM(svxx) AS HUGEINT) AS sxx,
             CAST(SUM(svxy) AS HUGEINT) AS sxy,
             CAST(SUM(svyy) AS HUGEINT) AS syy
      FROM pv
    ),
    t AS (
      SELECT n,
             CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE) AS cov_t,
             CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE) AS varx_t,
             CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE) AS vary_t,
             CAST(CAST(sx AS VARCHAR) AS DOUBLE) / n AS xbar
      FROM g
    )
    SELECT pv.variant, pv.nv AS n_users,
           CAST(CAST(pv.svy AS VARCHAR) AS DOUBLE) / pv.nv / 1000000.0
             AS mean_y,
           (CAST(CAST(pv.svy AS VARCHAR) AS DOUBLE)
             - (CASE WHEN t.varx_t = 0 THEN 0 ELSE t.cov_t / t.varx_t END)
               * (CAST(CAST(pv.svx AS VARCHAR) AS DOUBLE) - pv.nv * t.xbar))
             / pv.nv / 1000000.0 AS mean_y_adj,
           CASE WHEN t.varx_t = 0 THEN 0 ELSE t.cov_t / t.varx_t END AS theta,
           CASE WHEN t.varx_t = 0 OR t.vary_t = 0 THEN 0
                ELSE t.cov_t * t.cov_t / (t.varx_t * t.vary_t)
           END AS var_reduction
    FROM pv, t
    """,
)
def q211_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Experiment Data, Deng et
    al. 2013) — the variance-reduction adjustment every mature A/B
    platform applies before reading an experiment: each user's
    experiment-period metric y is shifted by θ·(x − x̄) where x is the
    SAME metric from the pre-period and θ = cov(x,y)/var(x), shrinking
    metric variance by exactly ρ² without biasing the treatment
    contrast. Completes the experimentation family: q136 extracts the
    raw variant facts, q172 tests independence, this one is the
    sensitivity lever. Variant = user_id % 2 (per-user assignment —
    q172's per-event props hash would split one user across arms);
    the pre/post cutoff is the data-derived midpoint of the event-time
    range, so the query survives testdata regeneration.

    Exactness: per-event values go fixed-point (decimal(18,6)·1e6 →
    int64 micro-units), so every per-user and per-variant sum and all
    five moment sums are EXACT integers (decimal(38,0) in Spark,
    HUGEINT in DuckDB); θ's numerator n·Σxy − Σx·Σy and denominator
    n·Σx² − (Σx)² stay integer-exact and only the final divisions run
    in double after the string-routed cast — bit-identical
    cross-engine (the q90 discipline). Zero pre-period variance
    degrades to θ=0 (unadjusted means) instead of dividing by zero.

    Scale shape: one events scan → per-user conditional aggregate
    (shuffle on user_id), a 2-row per-variant rollup, a 1-row global
    rollup broadcast back — no windows, no row-level θ application
    (the per-variant adjusted MEAN is the closed form
    (Σy − θ·(Σx − n·x̄))/n, so the adjustment costs nothing at 100 TB;
    materializing per-user adjusted values would just be one more
    map-side projection of the same per-user frame)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("tus"),
        (F.col("value").cast(_DEC_Y) * 1_000_000).cast("long").alias("yv"),
    )
    bounds = ev.agg(F.expr("(MIN(tus) + MAX(tus)) DIV 2").alias("cutoff"))
    pu = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy((F.col("user_id") % 2).alias("variant"), "user_id")
        .agg(
            F.sum(
                F.when(F.col("tus") < F.col("cutoff"), F.col("yv")).otherwise(0)
            ).alias("x"),
            F.sum(
                F.when(F.col("tus") >= F.col("cutoff"), F.col("yv")).otherwise(0)
            ).alias("y"),
        )
    )
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    pv = pu.groupBy("variant").agg(
        F.count("*").alias("nv"),
        F.sum("x").cast("decimal(38,0)").alias("svx"),
        F.sum("y").cast("decimal(38,0)").alias("svy"),
        F.sum(xd * F.col("x")).cast("decimal(38,0)").alias("svxx"),
        F.sum(xd * F.col("y")).cast("decimal(38,0)").alias("svxy"),
        F.sum(yd * F.col("y")).cast("decimal(38,0)").alias("svyy"),
    )
    g = pv.agg(
        F.sum("nv").alias("n"),
        F.sum("svx").cast("decimal(38,0)").alias("sx"),
        F.sum("svy").cast("decimal(38,0)").alias("sy"),
        F.sum("svxx").cast("decimal(38,0)").alias("sxx"),
        F.sum("svxy").cast("decimal(38,0)").alias("sxy"),
        F.sum("svyy").cast("decimal(38,0)").alias("syy"),
    )
    t = g.select(
        "n",
        _d(F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("cov_t"),
        _d(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("varx_t"),
        _d(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).alias("vary_t"),
        (_d(F.col("sx")) / F.col("n")).alias("xbar"),
    )
    theta = F.when(F.col("varx_t") == 0, F.lit(0.0)).otherwise(
        F.col("cov_t") / F.col("varx_t")
    )
    vr = F.when(
        (F.col("varx_t") == 0) | (F.col("vary_t") == 0), F.lit(0.0)
    ).otherwise(
        F.col("cov_t") * F.col("cov_t") / (F.col("varx_t") * F.col("vary_t"))
    )
    return pv.crossJoin(F.broadcast(t)).select(
        "variant",
        F.col("nv").alias("n_users"),
        (_d(F.col("svy")) / F.col("nv") / F.lit(1_000_000.0)).alias("mean_y"),
        (
            (
                _d(F.col("svy"))
                - theta * (_d(F.col("svx")) - F.col("nv") * F.col("xbar"))
            )
            / F.col("nv")
            / F.lit(1_000_000.0)
        ).alias("mean_y_adj"),
        theta.alias("theta"),
        vr.alias("var_reduction"),
    )


# ---------------------------------------------------------------------------
# q215 — deterministic Poisson-bootstrap confidence interval
# ---------------------------------------------------------------------------
_BOOT_B = 100  # bootstrap replicates
# Poisson(1) inverse-CDF thresholds on the integer 52-bit scale
# (floor(cum_k · 2^52) for k = 0..6; draws past the last land on 7).
# Integer thresholds make the weight assignment an exact int64
# comparison — no float CDF evaluation to diverge cross-engine.
_BOOT_T = (
    1656781714176974,
    3313563428353948,
    4141954285442435,
    4418084571138597,
    4487117142562638,
    4500923656847446,
    4503224742561580,
)
_BOOT_LO_RANK = 3  # 2.5th percentile of 100 replicate means
_BOOT_HI_RANK = 98  # 97.5th percentile


def _boot_w_sql(u: str) -> str:
    arms = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_BOOT_T)
    )
    return f"CASE {arms} ELSE {len(_BOOT_T)} END"


@query(
    "q215_bootstrap_ci",
    oracle=f"""
    WITH o AS (
      SELECT o_orderkey AS k,
             CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS pm
      FROM orders
    ),
    ww AS (
      SELECT i AS b, pm,
             {_boot_w_sql(
                "CAST(concat('0x', substring(md5(CAST(i AS VARCHAR) || '|' ||"
                " CAST(k AS VARCHAR)), 1, 13)) AS BIGINT)"
             )} AS w
      FROM o, UNNEST(generate_series(0, {_BOOT_B - 1})) AS g(i)
    ),
    rep AS (
      SELECT b, CAST(SUM(CAST(w AS HUGEINT) * pm) AS HUGEINT) AS s,
             CAST(SUM(w) AS BIGINT) AS n
      FROM ww GROUP BY b
    ),
    ranked AS (
      SELECT CAST(CAST(s AS VARCHAR) AS DOUBLE) / n / 1000000.0 AS m, b,
             ROW_NUMBER() OVER (
               ORDER BY CAST(CAST(s AS VARCHAR) AS DOUBLE) / n / 1000000.0, b
             ) AS rn
      FROM rep
    ),
    pt AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(CAST(CAST(SUM(pm) AS HUGEINT) AS VARCHAR) AS DOUBLE)
               / COUNT(*) / 1000000.0 AS point_mean
      FROM o
    )
    SELECT pt.n_orders, CAST({_BOOT_B} AS BIGINT) AS n_replicates,
           pt.point_mean,
           (SELECT m FROM ranked WHERE rn = {_BOOT_LO_RANK}) AS ci_lo,
           (SELECT m FROM ranked WHERE rn = {_BOOT_HI_RANK}) AS ci_hi
    FROM pt
    """,
)
def q215_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC Poisson bootstrap — the distribution-free
    confidence interval for any pipeline metric, here the mean order
    value: 100 replicates where each row enters replicate b with
    weight ~ Poisson(1), the streaming-safe approximation of
    resampling-with-replacement (Chamandy et al., "Estimating
    Uncertainty for Massive Data Streams", Google 2012). The CI is the
    exact-rank [3, 98] envelope of the 100
    replicate means.

    Every weight is a pure function of (replicate, order key): a
    52-bit md5 draw compared against PRECOMPUTED INTEGER CDF
    thresholds, so the "randomness" is replayable, shard-invariant,
    and engine-exact (no float CDF, no RNG state — the q93/q99
    sampling discipline applied to resampling). Money rides as int64
    micro-units; each replicate's (Σw·x, Σw) pair is integer-exact
    and the only float op is the final string-routed mean division.

    Scale: ONE pass — explode ×100 into a map-side-combinable
    aggregate with 100 groups (the expansion never shuffles:
    partial sums leave each partition already reduced to ≤100
    rows). This is the textbook way to put error bars on 100 TB
    aggregates without a second scan per replicate."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_totalprice").cast(_DEC_Y) * 1_000_000)
        .cast("long")
        .alias("pm"),
    )
    u = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.col("b").cast("string"), F.col("k").cast("string"))),
            1,
            13,
        ),
        16,
        10,
    ).cast("long")
    w = F.when(u < _BOOT_T[0], 0)
    for k, t in enumerate(_BOOT_T[1:], start=1):
        w = w.when(u < t, k)
    w = w.otherwise(len(_BOOT_T))
    rep = (
        o.select("k", "pm", F.explode(F.expr(f"sequence(0, {_BOOT_B - 1})")).alias("b"))
        .select("b", "pm", w.alias("w"))
        .groupBy("b")
        .agg(
            # r12 (guide §1.2 per-task work): the PRODUCT stays in
            # long — w ≤ 7 and pm < 6.6e11 micro-units bound w·pm
            # < 4.7e12, exact in int64 — and only the SUM runs in
            # decimal(38,0), so per-replicate exactness at any scale
            # is unchanged while the per-row decimal multiply (1.5B
            # rows at 100×) becomes integer codegen. Interleaved A/B
            # at 100×: 159→146 s (plans/r12/q215_agg_ab.jsonl, rows
            # bit-identical). The md5 draw itself is the query's
            # replayable randomness — measured at ~125 s of the
            # total (plans/r12/q215_probe_arms.jsonl) and irreducible.
            F.sum((F.col("w") * F.col("pm")).cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias("s"),
            F.sum("w").cast("long").alias("n"),
        )
    )
    m = (F.col("s").cast("string").cast("double") / F.col("n") / F.lit(1e6)).alias("m")
    ranked = rep.select(m, "b").withColumn(
        "rn", F.row_number().over(W.orderBy("m", "b"))
    )
    # both CI bounds in ONE conditional aggregate — two filters on
    # `ranked` would recompute the replicate subtree (and rescan
    # orders) once per bound
    ci = ranked.agg(
        F.max(F.when(F.col("rn") == _BOOT_LO_RANK, F.col("m"))).alias("ci_lo"),
        F.max(F.when(F.col("rn") == _BOOT_HI_RANK, F.col("m"))).alias("ci_hi"),
    )
    pt = o.agg(
        F.count("*").alias("n_orders"),
        (
            F.sum("pm").cast("decimal(38,0)").cast("string").cast("double")
            / F.count("*")
            / F.lit(1e6)
        ).alias("point_mean"),
    )
    return (
        pt.crossJoin(F.broadcast(ci))
        .select(
            "n_orders",
            F.lit(_BOOT_B).cast("long").alias("n_replicates"),
            "point_mean",
            "ci_lo",
            "ci_hi",
        )
    )


# ---------------------------------------------------------------------------
# q216 — Mann–Whitney U test (exact integer ranks, tie-corrected)
# q217 — Kolmogorov–Smirnov two-sample test (exact integer ECDF gap)
# ---------------------------------------------------------------------------
_MW_A, _MW_B = "purchase", "view"


@query(
    "q216_mannwhitney",
    oracle=f"""
    WITH ev AS (
      SELECT value,
             CASE WHEN event_type = '{_MW_A}' THEN 1 ELSE 0 END AS is_a
      FROM events WHERE event_type IN ('{_MW_A}', '{_MW_B}')
    ),
    g AS (
      SELECT value, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(is_a) AS BIGINT) AS ca
      FROM ev GROUP BY value
    ),
    r AS (
      SELECT cnt, ca,
             COALESCE(SUM(cnt) OVER (ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM g
    ),
    s AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS na,
             CAST(SUM(cnt) AS BIGINT) AS n,
             CAST(SUM(ca * (2 * cb + cnt + 1)) AS BIGINT) AS r2a,
             CAST(SUM(cnt * cnt * cnt - cnt) AS HUGEINT) AS tsum
      FROM r
    ),
    t AS (
      SELECT na, n - na AS nb, n, r2a - na * (na + 1) AS u2, tsum,
             CAST(na AS HUGEINT) * (n - na)
               * ((CAST(n AS HUGEINT) + 1) * n * (n - 1) - tsum) AS signum,
             CAST(12 AS HUGEINT) * n * (n - 1) AS sigden
      FROM s
    )
    SELECT na AS n_a, nb AS n_b, CAST(u2 AS BIGINT) AS u2_a,
           CAST(u2 AS DOUBLE) / 2 AS u_a,
           CASE WHEN signum = 0 THEN 0 ELSE
             (CAST(u2 AS DOUBLE) - CAST(na AS DOUBLE) * nb)
             / (2 * sqrt(CAST(CAST(signum AS VARCHAR) AS DOUBLE)
                         / CAST(CAST(sigden AS VARCHAR) AS DOUBLE)))
           END AS z
    FROM t
    """,
)
def q216_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN–WHITNEY U — the nonparametric location test (does
    'purchase' stochastically dominate 'view'?) that q103's Welch t
    can't answer when values are heavy-tailed. Completes the
    hypothesis-test shelf: χ² (q172) for categorical, Welch (q103)
    for means, this for ranks.

    EXACT construction, no per-row ranking: group by distinct value →
    (cnt, count-in-A), one global cumulative count over the DISTINCT
    VALUE frame (the q206 discipline — the window runs on the reduced
    frame, never the fact table; the documented scale variant range-
    partitions the prefix sum), then the doubled tie-averaged rank sum
    Σ ca·(2·cb + cnt + 1) is an integer, as are 2U = R2 − nₐ(nₐ+1),
    the tie-correction Σ(t³−t), and σ²'s numerator/denominator. The
    z-score's divisions and sqrt are IEEE-correctly-rounded doubles of
    exact integers — bit-identical cross-engine (sqrt is an IEEE 754
    required-exact operation, unlike exp/ln which never appear here).
    Degenerate variance (all values tied) reports z = 0, not NaN."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_MW_A, _MW_B)
    ).select(
        "value",
        F.when(F.col("event_type") == _MW_A, 1).otherwise(0).alias("is_a"),
    )
    g = ev.groupBy("value").agg(
        F.count("*").alias("cnt"), F.sum("is_a").alias("ca")
    )
    w = W.orderBy("value").rowsBetween(W.unboundedPreceding, -1)
    r = g.select(
        "cnt", "ca", F.coalesce(F.sum("cnt").over(w), F.lit(0)).alias("cb")
    )
    # rank-sum terms are quadratic in n (ca·2cb ≈ n²) — widen BEFORE
    # the product/sum (decimal(38,0) vs the oracle's HUGEINT), the
    # same 128-bit discipline as q217's ECDF gap
    s = r.agg(
        F.sum("ca").alias("na"),
        F.sum("cnt").alias("n"),
        F.sum(
            F.col("ca").cast("decimal(38,0)")
            * (2 * F.col("cb") + F.col("cnt") + 1)
        ).cast("decimal(38,0)").alias("r2a"),
        F.sum(
            F.col("cnt").cast("decimal(38,0)") * F.col("cnt") * F.col("cnt")
            - F.col("cnt")
        ).cast("decimal(38,0)").alias("tsum"),
    )
    nb = F.col("n") - F.col("na")
    u2 = F.col("r2a") - F.col("na").cast("decimal(38,0)") * (F.col("na") + 1)
    signum = (
        F.col("na").cast("decimal(38,0)")
        * nb
        * (
            (F.col("n").cast("decimal(38,0)") + 1) * F.col("n") * (F.col("n") - 1)
            - F.col("tsum")
        )
    ).cast("decimal(38,0)")
    sigden = (
        F.lit(12).cast("decimal(38,0)") * F.col("n") * (F.col("n") - 1)
    ).cast("decimal(38,0)")
    t = s.select(
        F.col("na").alias("n_a"),
        nb.alias("n_b"),
        u2.cast("long").alias("u2_a"),
        signum.alias("signum"),
        sigden.alias("sigden"),
    )
    z = F.when(F.col("signum") == 0, F.lit(0.0)).otherwise(
        (
            F.col("u2_a").cast("double")
            - F.col("n_a").cast("double") * F.col("n_b")
        )
        / (
            2
            * F.sqrt(
                F.col("signum").cast("string").cast("double")
                / F.col("sigden").cast("string").cast("double")
            )
        )
    )
    return t.select(
        "n_a",
        "n_b",
        "u2_a",
        (F.col("u2_a").cast("double") / 2).alias("u_a"),
        z.alias("z"),
    )


@query(
    "q217_ks_test",
    oracle=f"""
    WITH ev AS (
      SELECT value,
             CASE WHEN event_type = '{_MW_A}' THEN 1 ELSE 0 END AS is_a
      FROM events WHERE event_type IN ('{_MW_A}', '{_MW_B}')
    ),
    g AS (
      SELECT value, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(is_a) AS BIGINT) AS ca
      FROM ev GROUP BY value
    ),
    c AS (
      SELECT SUM(ca) OVER w AS cuma, SUM(cnt - ca) OVER w AS cumb
      FROM g WINDOW w AS (ORDER BY value ROWS UNBOUNDED PRECEDING)
    ),
    tot AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS na,
             CAST(SUM(cnt - ca) AS BIGINT) AS nb
      FROM g
    )
    SELECT tot.na AS n_a, tot.nb AS n_b,
           CAST(MAX(abs(cuma * tot.nb - cumb * tot.na)) AS BIGINT) AS d_num,
           CAST(MAX(abs(cuma * tot.nb - cumb * tot.na)) AS DOUBLE)
             / (CAST(tot.na AS DOUBLE) * tot.nb) AS d_stat,
           CAST(MAX(abs(cuma * tot.nb - cumb * tot.na)) AS DOUBLE)
             / (CAST(tot.na AS DOUBLE) * tot.nb)
             * sqrt(CAST(tot.na AS DOUBLE) * tot.nb / (tot.na + tot.nb))
             AS ks_lambda
    FROM c, tot
    GROUP BY tot.na, tot.nb
    """,
)
def q217_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KOLMOGOROV–SMIRNOV two-sample test — the distribution-SHAPE
    companion to q216's location test: D = sup|F̂ₐ − F̂ᵦ| detects any
    distributional difference (spread, modality), not just a shift.

    EXACT gap: per distinct value, the scaled ECDF difference
    cumA·nᵦ − cumB·nₐ is an INTEGER, so D's numerator is an exact
    max-of-abs over integers and D itself is one double division;
    the √(nₐnᵦ/(nₐ+nᵦ)) scaling for the limiting distribution is an
    IEEE-exact sqrt of a double built from the same integers. Shares
    q216's shape: distinct-value aggregate, one cumulative window
    over the reduced frame, one max-reduction — the fact table pays a
    hash aggregate, never a sort."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_MW_A, _MW_B)
    ).select(
        "value",
        F.when(F.col("event_type") == _MW_A, 1).otherwise(0).alias("is_a"),
    )
    g = ev.groupBy("value").agg(
        F.count("*").alias("cnt"), F.sum("is_a").alias("ca")
    )
    w = W.orderBy("value").rowsBetween(W.unboundedPreceding, 0)
    c = g.select(
        F.sum("ca").over(w).alias("cuma"),
        F.sum(F.col("cnt") - F.col("ca")).over(w).alias("cumb"),
    )
    tot = g.agg(
        F.sum("ca").alias("na"),
        F.sum(F.col("cnt") - F.col("ca")).alias("nb"),
    )
    # 128-bit gap arithmetic (decimal vs DuckDB's HUGEINT window sums):
    # cum·n products overflow int64 once both sides' distinct-value
    # counts pass ~3e9 — real at 100 TB
    gap = F.abs(
        F.col("cuma").cast("decimal(38,0)") * F.col("nb")
        - F.col("cumb").cast("decimal(38,0)") * F.col("na")
    )
    joined = c.crossJoin(F.broadcast(tot))
    na_d = F.col("na").cast("double")
    d_stat = F.max(gap).cast("double") / (na_d * F.col("nb"))
    return joined.groupBy("na", "nb").agg(
        F.max(gap).cast("long").alias("d_num"),
        d_stat.alias("d_stat"),
        (
            d_stat
            * F.sqrt(na_d * F.col("nb") / (F.col("na") + F.col("nb")))
        ).alias("ks_lambda"),
    ).select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        "d_num",
        "d_stat",
        "ks_lambda",
    )


# ---------------------------------------------------------------------------
# q218 — Spearman rank correlation per event type (exact integer ranks)
# ---------------------------------------------------------------------------
@query(
    "q218_spearman",
    oracle="""
    WITH pts AS (
      SELECT event_type, epoch_us(ts) AS x, value AS y FROM events
    ),
    rk AS (
      SELECT event_type,
             2 * COUNT(*) OVER (PARTITION BY event_type ORDER BY x
                  RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - COUNT(*) OVER (PARTITION BY event_type, x) + 1 AS rx,
             2 * COUNT(*) OVER (PARTITION BY event_type ORDER BY y
                  RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - COUNT(*) OVER (PARTITION BY event_type, y) + 1 AS ry
      FROM pts
    ),
    s AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(rx AS HUGEINT)) AS HUGEINT) AS sx,
             CAST(SUM(CAST(ry AS HUGEINT)) AS HUGEINT) AS sy,
             SUM(CAST(rx AS HUGEINT) * rx) AS sxx,
             SUM(CAST(ry AS HUGEINT) * ry) AS syy,
             SUM(CAST(rx AS HUGEINT) * ry) AS sxy
      FROM rk GROUP BY 1
    )
    SELECT event_type, n,
           CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN 0
                ELSE CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
                  / sqrt(CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE)
                         * CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE))
           END AS spearman_rho
    FROM s
    """,
)
def q218_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPEARMAN rank correlation of (event time, value) per event type
    — the monotone-trend detector that q92's Pearson misses when the
    drift is nonlinear, and the robust complement to q90's OLS slope.

    Tie-averaged ranks without a row-number pass: the DOUBLED rank
    2·r = 2·(peers-inclusive cumulative count) − |tie group| + 1 is an
    integer for every row (the q216 doubling trick applied through a
    RANGE-framed window), so all five moment sums are exact integers,
    the doubling cancels in ρ, and only the final divide/sqrt are
    (IEEE-exact) float ops. Degenerate rank variance reports ρ = 0.
    Scale: two RANGE windows partitioned by event type over the fact,
    then one hash aggregate — rank state is per-partition streaming
    count, and the 100 TB variant swaps the within-type sort for the
    distinct-value construction of q216 when values are heavily
    repeated."""
    pts = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.unix_micros("ts").alias("x"),
        F.col("value").alias("y"),
    )

    def r2(col: str) -> F.Column:
        cum = F.count("*").over(
            W.partitionBy("event_type")
            .orderBy(col)
            .rangeBetween(W.unboundedPreceding, W.currentRow)
        )
        ties = F.count("*").over(W.partitionBy("event_type", col))
        return 2 * cum - ties + 1

    rk = pts.select(
        "event_type", r2("x").alias("rx"), r2("y").alias("ry")
    )
    rxd = F.col("rx").cast("decimal(38,0)")
    ryd = F.col("ry").cast("decimal(38,0)")
    s = rk.groupBy("event_type").agg(
        F.count("*").alias("n"),
        # widen BEFORE summing: Σrx ≈ n² overflows an int64 accumulator
        # at ~3e9-row partitions (the oracle sums HUGEINT)
        F.sum(F.col("rx").cast("decimal(38,0)")).cast("decimal(38,0)").alias("sx"),
        F.sum(F.col("ry").cast("decimal(38,0)")).cast("decimal(38,0)").alias("sy"),
        F.sum(rxd * F.col("rx")).cast("decimal(38,0)").alias("sxx"),
        F.sum(ryd * F.col("ry")).cast("decimal(38,0)").alias("syy"),
        F.sum(rxd * F.col("ry")).cast("decimal(38,0)").alias("sxy"),
    )
    denx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    rho = F.when((denx == 0) | (deny == 0), F.lit(0.0)).otherwise(
        _d(num) / F.sqrt(_d(denx) * _d(deny))
    )
    return s.select("event_type", "n", rho.alias("spearman_rho"))


# ---------------------------------------------------------------------------
# q221 — deterministic permutation test for the variant mean difference
# ---------------------------------------------------------------------------
_PERM_B = 200  # permutation replicates
_PERM_COIN = 1 << 51  # md5 draw < half the 52-bit space → side A


@query(
    "q221_permutation_test",
    oracle=f"""
    WITH ev AS (
      SELECT user_id,
             CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS yv
      FROM events
    ),
    pu AS (
      SELECT user_id, user_id % 2 AS variant, SUM(yv) AS y
      FROM ev GROUP BY 1, 2
    ),
    obs AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(CAST(SUM(CASE WHEN variant = 1 THEN y END) AS VARCHAR)
                  AS DOUBLE)
               / SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END)
             - CAST(CAST(SUM(CASE WHEN variant = 0 THEN y END) AS VARCHAR)
                    AS DOUBLE)
               / SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS obs_diff
      FROM pu
    ),
    coins AS (
      SELECT i AS b, y,
             CASE WHEN CAST(concat('0x', substring(md5(CAST(i AS VARCHAR)
                  || '|' || CAST(user_id AS VARCHAR)), 1, 13)) AS BIGINT)
                  < {_PERM_COIN} THEN 1 ELSE 0 END AS side
      FROM pu, UNNEST(generate_series(0, {_PERM_B - 1})) AS g(i)
    ),
    rep AS (
      SELECT b,
             CAST(SUM(CASE WHEN side = 1 THEN y END) AS HUGEINT) AS s1,
             SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS n1,
             CAST(SUM(CASE WHEN side = 0 THEN y END) AS HUGEINT) AS s0,
             SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS n0
      FROM coins GROUP BY b
      HAVING SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) > 0
         AND SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) > 0
    ),
    ex AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS b_used,
             CAST(SUM(CASE WHEN
               abs(CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n1
                   - CAST(CAST(s0 AS VARCHAR) AS DOUBLE) / n0)
               >= abs((SELECT obs_diff FROM obs)) THEN 1 ELSE 0 END)
             AS BIGINT) AS n_exceed
      FROM rep
    )
    SELECT obs.n_users, ex.b_used, obs.obs_diff / 1000000.0 AS obs_diff,
           ex.n_exceed,
           CAST(ex.n_exceed + 1 AS DOUBLE) / (ex.b_used + 1) AS p_value
    FROM obs, ex
    """,
)
def q221_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RE-RANDOMIZATION (permutation) test for the variant mean
    difference — the assumption-free p-value that backs up q103/q216
    when neither normality nor rank assumptions are wanted: reassign
    every user to a pseudo-arm 200 times and ask how often the
    permuted |mean difference| reaches the observed one. Completes
    the experimentation shelf: q136 facts, q172 independence, q211
    sensitivity, q215 error bars, this one inference.

    Determinism discipline = q215's: each coin is an md5 draw
    compared against an integer threshold (2^51, i.e. p=1/2 on the
    52-bit scale), so all 200 permutations are replayable and
    shard-invariant; per-arm sums are integer micro-units and the
    double mean-difference expressions are composed identically in
    both engines before the ≥ comparison. The +1/(B+1) correction
    keeps the p-value valid (never exactly 0). Degenerate replicates
    (an empty arm) are excluded identically on both sides.

    Scale: per-user aggregate once, then ONE pass over users×B into
    a 200-group map-side-combinable aggregate — the classic
    'permutation tests don't need a second scan' construction."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        (F.col("value").cast(_DEC_Y) * 1_000_000).cast("long").alias("yv"),
    )
    pu = ev.groupBy(
        "user_id", (F.col("user_id") % 2).alias("variant")
    ).agg(F.sum("yv").alias("y"))
    obs = pu.agg(
        F.count("*").alias("n_users"),
        (
            _d(F.sum(F.when(F.col("variant") == 1, F.col("y"))).cast("decimal(38,0)"))
            / F.sum(F.when(F.col("variant") == 1, 1).otherwise(0))
            - _d(F.sum(F.when(F.col("variant") == 0, F.col("y"))).cast("decimal(38,0)"))
            / F.sum(F.when(F.col("variant") == 0, 1).otherwise(0))
        ).alias("obs_diff_u"),
    )
    coin = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("b").cast("string"),
                        F.col("user_id").cast("string"),
                    )
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("long")
        < _PERM_COIN
    )
    rep = (
        pu.select(
            "user_id", "y", F.explode(F.expr(f"sequence(0, {_PERM_B - 1})")).alias("b")
        )
        .select("b", "y", F.when(coin, 1).otherwise(0).alias("side"))
        .groupBy("b")
        .agg(
            F.sum(F.when(F.col("side") == 1, F.col("y"))).cast("decimal(38,0)").alias("s1"),
            F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).alias("n1"),
            F.sum(F.when(F.col("side") == 0, F.col("y"))).cast("decimal(38,0)").alias("s0"),
            F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).alias("n0"),
        )
        .filter((F.col("n1") > 0) & (F.col("n0") > 0))
    )
    ex = (
        rep.crossJoin(F.broadcast(obs))
        .agg(
            F.count("*").alias("b_used"),
            F.sum(
                F.when(
                    F.abs(_d(F.col("s1")) / F.col("n1") - _d(F.col("s0")) / F.col("n0"))
                    >= F.abs(F.col("obs_diff_u")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_exceed"),
        )
    )
    return obs.crossJoin(F.broadcast(ex)).select(
        "n_users",
        "b_used",
        (F.col("obs_diff_u") / F.lit(1_000_000.0)).alias("obs_diff"),
        "n_exceed",
        (
            (F.col("n_exceed") + 1).cast("double") / (F.col("b_used") + 1)
        ).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# q227 — group-sequential experiment monitoring (OBF-shaped boundary)
# ---------------------------------------------------------------------------
_SEQ_K = 4  # interim analyses (weekly looks)
_SEQ_WEEK_US = 7 * 86_400 * 1_000_000
# O'Brien–Fleming-shaped critical value c/sqrt(t_k): c = 2.024 is the
# published K=4, two-sided alpha ~= 0.05 constant (Jennison & Turnbull
# table 2.3); a literal here, exactly as a stats library would ship it.
_SEQ_C = 2.024


@query(
    "q227_sequential_monitoring",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, epoch_us(ts) AS tus,
             CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS yv
      FROM events
    ),
    b AS (SELECT MIN(tus) AS t0 FROM ev),
    wk AS (
      SELECT user_id, user_id % 2 AS variant,
             LEAST((tus - b.t0) // {_SEQ_WEEK_US}, {_SEQ_K - 1}) AS w,
             yv
      FROM ev, b
    ),
    uw AS (
      SELECT user_id, variant, w, SUM(yv) AS y
      FROM wk GROUP BY 1, 2, 3
    ),
    grid AS (
      SELECT u.user_id, u.variant, g.k
      FROM (SELECT DISTINCT user_id, variant FROM uw) u,
           UNNEST(generate_series(0, {_SEQ_K - 1})) AS g(k)
    ),
    cum AS (
      SELECT g.user_id, g.variant, g.k,
             CAST(COALESCE(SUM(uw.y), 0) AS BIGINT) AS y
      FROM grid g
      LEFT JOIN uw ON uw.user_id = g.user_id AND uw.w <= g.k
      GROUP BY 1, 2, 3
    ),
    arm AS (
      SELECT k, variant, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS HUGEINT) AS s,
             SUM(CAST(y AS HUGEINT) * y) AS ss
      FROM cum GROUP BY 1, 2
    ),
    look AS (
      SELECT a1.k,
             a1.n AS n1, a0.n AS n0,
             CAST(CAST(a1.s AS VARCHAR) AS DOUBLE) / a1.n
               - CAST(CAST(a0.s AS VARCHAR) AS DOUBLE) / a0.n AS diff_u,
             CAST(CAST(a1.n * a1.ss - a1.s * a1.s AS VARCHAR) AS DOUBLE)
                / a1.n / (a1.n - 1) AS var1,
             CAST(CAST(a0.n * a0.ss - a0.s * a0.s AS VARCHAR) AS DOUBLE)
                / a0.n / (a0.n - 1) AS var0
      FROM arm a1 JOIN arm a0 ON a0.k = a1.k
      WHERE a1.variant = 1 AND a0.variant = 0
    )
    SELECT k + 1 AS look_number, n1 + n0 AS n_users,
           diff_u / 1000000.0 AS mean_diff,
           diff_u / sqrt(var1 / n1 + var0 / n0) AS z_stat,
           {_SEQ_C} / sqrt(CAST(k + 1 AS DOUBLE) / {_SEQ_K}) AS obf_bound,
           abs(diff_u / sqrt(var1 / n1 + var0 / n0))
             >= {_SEQ_C} / sqrt(CAST(k + 1 AS DOUBLE) / {_SEQ_K}) AS crossed
    FROM look
    """,
)
def q227_sequential_monitoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-SEQUENTIAL experiment monitoring — the interim-look table
    an A/B platform shows while an experiment RUNS: at each of
    4 weekly looks, the cumulative per-arm mean difference, its
    z-statistic, and the O'Brien–Fleming-shaped stopping boundary
    c/√(k/K) (wide early, nominal late — the spending discipline that
    keeps repeated peeking at α≈0.05 overall). Crossing → stop the
    experiment. Completes the experimentation shelf's missing
    production feature next to q211 (sensitivity), q215 (error bars),
    q221 (inference): MONITORING with valid early stopping.

    Construction: per-(user, week) integer micro-sums, a dense
    user×look grid (users carry cumulative totals through quiet
    weeks), per-(look, arm) exact integer moments, then z from
    string-routed doubles with IEEE-exact sqrt — bit-identical
    cross-engine, same discipline as q216. The boundary constant is a
    published table value (Jennison & Turnbull), shipped as a literal
    exactly like a stats library ships it. Scale: the grid is
    |users|×4 rows keyed by user — one shuffle on user_id,
    one tiny per-look rollup; nothing scales with events beyond the
    first aggregate."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("tus"),
        (F.col("value").cast(_DEC_Y) * 1_000_000).cast("long").alias("yv"),
    )
    t0 = ev.agg(F.min("tus").alias("t0"))
    wk = ev.crossJoin(F.broadcast(t0)).select(
        "user_id",
        (F.col("user_id") % 2).alias("variant"),
        F.least(
            F.expr(f"(tus - t0) DIV {_SEQ_WEEK_US}"), F.lit(_SEQ_K - 1)
        ).alias("w"),
        "yv",
    )
    uw = wk.groupBy("user_id", "variant", "w").agg(F.sum("yv").alias("y"))
    grid = (
        uw.select("user_id", "variant")
        .distinct()
        .select(
            "user_id",
            "variant",
            F.explode(F.expr(f"sequence(0, {_SEQ_K - 1})")).alias("k"),
        )
    )
    cum = (
        grid.alias("g")
        .join(
            uw.alias("u"),
            (F.col("g.user_id") == F.col("u.user_id"))
            & (F.col("u.w") <= F.col("g.k")),
            "left",
        )
        .groupBy(F.col("g.user_id"), F.col("g.variant"), F.col("g.k"))
        .agg(F.coalesce(F.sum("u.y"), F.lit(0)).cast("long").alias("y"))
    )
    yd = F.col("y").cast("decimal(38,0)")
    arm = cum.groupBy("k", "variant").agg(
        F.count("*").alias("n"),
        F.sum("y").cast("decimal(38,0)").alias("s"),
        F.sum(yd * F.col("y")).cast("decimal(38,0)").alias("ss"),
    )
    a1 = arm.filter(F.col("variant") == 1).select(
        "k", F.col("n").alias("n1"), F.col("s").alias("s1"), F.col("ss").alias("ss1")
    )
    a0 = arm.filter(F.col("variant") == 0).select(
        "k", F.col("n").alias("n0"), F.col("s").alias("s0"), F.col("ss").alias("ss0")
    )
    look = a1.join(a0, "k").select(
        "k",
        "n1",
        "n0",
        (_d(F.col("s1")) / F.col("n1") - _d(F.col("s0")) / F.col("n0")).alias(
            "diff_u"
        ),
        (
            _d(F.col("n1") * F.col("ss1") - F.col("s1") * F.col("s1"))
            / F.col("n1")
            / (F.col("n1") - 1)
        ).alias("var1"),
        (
            _d(F.col("n0") * F.col("ss0") - F.col("s0") * F.col("s0"))
            / F.col("n0")
            / (F.col("n0") - 1)
        ).alias("var0"),
    )
    # Welch form: each arm's sample variance over ITS OWN n — the
    # earlier pooled-sum form divided (var1+var0) by both arms and
    # deflated every z by ~sqrt(2)
    z = F.col("diff_u") / F.sqrt(
        F.col("var1") / F.col("n1") + F.col("var0") / F.col("n0")
    )
    bound = F.lit(_SEQ_C) / F.sqrt(
        (F.col("k") + 1).cast("double") / F.lit(_SEQ_K)
    )
    return look.select(
        (F.col("k") + 1).alias("look_number"),
        (F.col("n1") + F.col("n0")).alias("n_users"),
        (F.col("diff_u") / F.lit(1_000_000.0)).alias("mean_diff"),
        z.alias("z_stat"),
        bound.alias("obf_bound"),
        (F.abs(z) >= bound).alias("crossed"),
    )


# ---------------------------------------------------------------------------
# q233 — distribution-free median confidence interval (order statistics)
# ---------------------------------------------------------------------------
_MED_Z = 1.96  # two-sided 95% normal quantile (literal, like q227's c)


@query(
    "q233_median_ci",
    oracle=f"""
    WITH dv AS (
      SELECT CAST(o_totalprice AS DECIMAL(18,6)) AS v,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM orders GROUP BY 1
    ),
    cum AS (
      SELECT v,
             SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cm,
             COALESCE(SUM(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pcm
      FROM dv
    ),
    t AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n,
             GREATEST(CAST(floor((SUM(c) - {_MED_Z} * sqrt(SUM(c))) / 2)
                           AS BIGINT), 1) AS l,
             LEAST(SUM(c) - GREATEST(CAST(floor((SUM(c)
                     - {_MED_Z} * sqrt(SUM(c))) / 2) AS BIGINT), 1) + 1,
                   SUM(c)) AS u,
             (SUM(c) + 1) // 2 AS m1, (SUM(c) + 2) // 2 AS m2
      FROM dv
    )
    SELECT t.n,
           CAST(CAST(MAX(CASE WHEN pcm < t.m1 AND t.m1 <= cm THEN v END)
                 + MAX(CASE WHEN pcm < t.m2 AND t.m2 <= cm THEN v END)
                 AS VARCHAR) AS DOUBLE) / 2 AS median,
           CAST(CAST(MAX(CASE WHEN pcm < t.l AND t.l <= cm THEN v END)
                 AS VARCHAR) AS DOUBLE) AS ci_lo,
           CAST(CAST(MAX(CASE WHEN pcm < t.u AND t.u <= cm THEN v END)
                 AS VARCHAR) AS DOUBLE) AS ci_hi
    FROM cum, t
    GROUP BY t.n
    """,
)
def q233_median_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTION-FREE median confidence interval by ORDER
    STATISTICS — the binomial-rank construction (CI = (x₍ₗ₎, x₍ᵤ₎)
    with l = ⌊(n − z√n)/2⌋, u = n − l + 1): no resampling, no
    normality assumption on the VALUES, valid for any continuous
    distribution. Complements q215 (bootstrap CI for the MEAN —
    needs B passes-worth of replicate state) with the quantile CI
    that costs nothing beyond the median query itself; the z literal
    is the published normal quantile, shipped like q227's boundary
    constant.

    Rank selection reuses q160's distinct-value + cumulative-count
    construction (one reduced-frame window, no per-row sort); all
    four needed ranks (both median ranks and the two CI ranks) are
    picked in ONE conditional aggregate over the cumulative frame —
    the q215 lesson about filter arms recomputing subtrees, applied
    from the start. l/u come from floor(double) of exact integers
    with IEEE sqrt — bit-identical cross-engine."""
    dv = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_totalprice").cast("decimal(18,6)").alias("v"))
        .agg(F.count("*").alias("c"))
    )
    w = W.orderBy("v")
    cum = dv.select(
        "v",
        F.sum("c").over(w.rowsBetween(W.unboundedPreceding, 0)).alias("cm"),
        F.coalesce(
            F.sum("c").over(w.rowsBetween(W.unboundedPreceding, -1)), F.lit(0)
        ).alias("pcm"),
    )
    n = F.sum("c")
    l_raw = F.greatest(
        F.floor((n - F.lit(_MED_Z) * F.sqrt(n)) / 2).cast("long"), F.lit(1)
    )
    t = dv.agg(
        n.cast("long").alias("n"),
        l_raw.alias("l"),
        F.least(n - l_raw + 1, n).cast("long").alias("u"),
        ((n + 1) / 2).cast("long").alias("m1"),
        ((n + 2) / 2).cast("long").alias("m2"),
    )

    def at(rank_col: str):
        return F.max(
            F.when(
                (F.col("pcm") < F.col(rank_col))
                & (F.col(rank_col) <= F.col("cm")),
                F.col("v"),
            )
        )

    return (
        cum.crossJoin(F.broadcast(t))
        .groupBy("n")
        .agg(
            (_d(at("m1") + at("m2")) / 2).alias("median"),
            _d(at("l")).alias("ci_lo"),
            _d(at("u")).alias("ci_hi"),
        )
    )


# ---------------------------------------------------------------------------
# q235 — delta-method inference for a RATIO metric (revenue per event)
# ---------------------------------------------------------------------------
@query(
    "q235_delta_method",
    oracle="""
    WITH pu AS (
      SELECT user_id, user_id % 2 AS variant,
             SUM(CASE WHEN event_type = 'purchase'
                 THEN CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)
                 ELSE 0 END) AS x,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    pv AS (
      SELECT variant, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(x AS HUGEINT) * y) AS sxy,
             SUM(CAST(y AS HUGEINT) * y) AS syy
      FROM pu GROUP BY 1
    ),
    t AS (
      SELECT variant, n,
             CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sxd,
             CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS syd,
             CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE)
               / n / (n - 1) AS vx,
             CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
               / n / (n - 1) AS cxy,
             CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE)
               / n / (n - 1) AS vy
      FROM pv
    ),
    d AS (
      SELECT variant, n, sxd / syd AS r,
             sqrt((vx - 2 * (sxd / syd) * cxy
                   + (sxd / syd) * (sxd / syd) * vy)
                  / n / ((syd / n) * (syd / n))) AS se
      FROM t
    ),
    z AS (
      SELECT (d1.r - d0.r)
               / sqrt(d1.se * d1.se + d0.se * d0.se) AS z_stat
      FROM d d1, d d0 WHERE d1.variant = 1 AND d0.variant = 0
    )
    SELECT d.variant, d.n AS n_users,
           d.r / 1000000.0 AS revenue_per_event,
           d.se / 1000000.0 AS std_err,
           z.z_stat
    FROM d, z
    """,
)
def q235_delta_method(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELTA-METHOD inference for a RATIO metric — revenue per event,
    the shape most production A/B metrics actually take (CTR, revenue
    per session, items per order), where the naive per-event variance
    is WRONG because events cluster within users (Deng et al. 2017,
    'the delta method' as every large platform applies it): the
    ratio R = Σx/Σy over user-level (x, y) pairs gets its standard
    error from var(R) ≈ (σx² − 2Rσxy + R²σy²)/(n·ȳ²) with all
    moments computed at the USER grain. Completes the experimentation
    shelf for non-mean metrics: q211/q227 handle per-user means,
    q221 permutes them, this one does clustered ratios.

    Exactness discipline: per-user numerators are integer micro-units
    and denominators integer counts; the five cross-moments are exact
    (decimal(38,0) vs HUGEINT); R, the (co)variances, the standard
    error (IEEE sqrt), and the two-arm z are composed in the same
    textual order in both engines. Scale: one per-user conditional
    aggregate, a 2-row per-variant rollup — nothing else."""
    ev = load_table(spark, sf_dir, "events")
    pu = ev.groupBy(
        "user_id", (F.col("user_id") % 2).alias("variant")
    ).agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                (F.col("value").cast(_DEC_Y) * 1_000_000).cast("long"),
            ).otherwise(0)
        ).alias("x"),
        F.count("*").alias("y"),
    )
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    pv = pu.groupBy("variant").agg(
        F.count("*").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(xd * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(xd * F.col("y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(yd * F.col("y")).cast("decimal(38,0)").alias("syy"),
    )
    t = pv.select(
        "variant",
        "n",
        _d(F.col("sx")).alias("sxd"),
        _d(F.col("sy")).alias("syd"),
        (
            _d(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            / F.col("n") / (F.col("n") - 1)
        ).alias("vx"),
        (
            _d(F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / F.col("n") / (F.col("n") - 1)
        ).alias("cxy"),
        (
            _d(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            / F.col("n") / (F.col("n") - 1)
        ).alias("vy"),
    )
    r = F.col("sxd") / F.col("syd")
    d = t.select(
        "variant",
        "n",
        r.alias("r"),
        F.sqrt(
            (F.col("vx") - 2 * r * F.col("cxy") + r * r * F.col("vy"))
            / F.col("n")
            / ((F.col("syd") / F.col("n")) * (F.col("syd") / F.col("n")))
        ).alias("se"),
    )
    d1 = d.filter(F.col("variant") == 1).select(
        F.col("r").alias("r1"), F.col("se").alias("se1")
    )
    d0 = d.filter(F.col("variant") == 0).select(
        F.col("r").alias("r0"), F.col("se").alias("se0")
    )
    z = d1.crossJoin(d0).select(
        (
            (F.col("r1") - F.col("r0"))
            / F.sqrt(F.col("se1") * F.col("se1") + F.col("se0") * F.col("se0"))
        ).alias("z_stat")
    )
    return d.crossJoin(F.broadcast(z)).select(
        "variant",
        F.col("n").alias("n_users"),
        (F.col("r") / F.lit(1_000_000.0)).alias("revenue_per_event"),
        (F.col("se") / F.lit(1_000_000.0)).alias("std_err"),
        "z_stat",
    )


# ---------------------------------------------------------------------------
# q238 — distribution-drift report per event type (KS, first vs second half)
# ---------------------------------------------------------------------------
_DRIFT_C = 1.358  # two-sample KS critical coefficient, alpha = 0.05


@query(
    "q238_drift_report",
    oracle=f"""
    WITH ev AS (
      SELECT event_type, value, epoch_us(ts) AS tus FROM events
    ),
    b AS (SELECT (MIN(tus) + MAX(tus)) // 2 AS cutoff FROM ev),
    g AS (
      SELECT event_type, value,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(CASE WHEN tus < b.cutoff THEN 1 ELSE 0 END) AS BIGINT)
               AS ca
      FROM ev, b GROUP BY 1, 2
    ),
    c AS (
      SELECT event_type,
             SUM(ca) OVER w AS cuma, SUM(cnt - ca) OVER w AS cumb
      FROM g WINDOW w AS (PARTITION BY event_type ORDER BY value
                          ROWS UNBOUNDED PRECEDING)
    ),
    tot AS (
      SELECT event_type, CAST(SUM(ca) AS BIGINT) AS na,
             CAST(SUM(cnt - ca) AS BIGINT) AS nb
      FROM g GROUP BY 1
    ),
    d AS (
      SELECT c.event_type, tot.na, tot.nb,
             CAST(MAX(abs(CAST(cuma AS HUGEINT) * tot.nb
                          - CAST(cumb AS HUGEINT) * tot.na)) AS BIGINT)
               AS d_num
      FROM c JOIN tot ON tot.event_type = c.event_type
      GROUP BY 1, 2, 3
    )
    SELECT event_type, na AS n_first, nb AS n_second,
           CAST(d_num AS DOUBLE) / (CAST(na AS DOUBLE) * nb) AS d_stat,
           {_DRIFT_C} * sqrt((CAST(na AS DOUBLE) + nb)
                             / (CAST(na AS DOUBLE) * nb)) AS critical,
           CAST(d_num AS DOUBLE) / (CAST(na AS DOUBLE) * nb)
             > {_DRIFT_C} * sqrt((CAST(na AS DOUBLE) + nb)
                                 / (CAST(na AS DOUBLE) * nb)) AS drifted
    FROM d
    """,
)
def q238_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTION-DRIFT monitor — the ML-ops report every serving
    pipeline runs on its features: per event type, the two-sample KS
    statistic between the FIRST and SECOND half of the event-time
    range (data-derived midpoint, q211's convention), flagged against
    the α=0.05 critical value 1.358·√((n₁+n₂)/(n₁n₂)). The
    distribution-shape alternative to mean-drift dashboards: a
    variance blow-up or emerging bimodality trips this when means
    alone look stable. PSI — the other industry drift metric — needs
    ln(p/q) (not IEEE-exact cross-engine); KS gives the same
    monitoring signal with the integer-exact ECDF-gap machinery q217
    pins, here partitioned per type.

    Integer ECDF gaps (128-bit products), one reduced-frame window
    per type, IEEE-exact final division/sqrt — hash-exact. Scale:
    one (type, value) aggregate over events, windows over distinct
    values only; the drift verdicts are |types| rows."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "value", F.unix_micros("ts").alias("tus")
    )
    b = ev.agg(F.expr("(MIN(tus) + MAX(tus)) DIV 2").alias("cutoff"))
    g = (
        ev.crossJoin(F.broadcast(b))
        .groupBy("event_type", "value")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(
                F.when(F.col("tus") < F.col("cutoff"), 1).otherwise(0)
            ).alias("ca"),
        )
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    c = g.select(
        "event_type",
        F.sum("ca").over(w).alias("cuma"),
        F.sum(F.col("cnt") - F.col("ca")).over(w).alias("cumb"),
    )
    tot = g.groupBy("event_type").agg(
        F.sum("ca").alias("na"),
        F.sum(F.col("cnt") - F.col("ca")).alias("nb"),
    )
    gap = F.abs(
        F.col("cuma").cast("decimal(38,0)") * F.col("nb")
        - F.col("cumb").cast("decimal(38,0)") * F.col("na")
    )
    d = (
        c.join(tot, "event_type")
        .groupBy("event_type", "na", "nb")
        .agg(F.max(gap).cast("long").alias("d_num"))
    )
    na_d = F.col("na").cast("double")
    d_stat = F.col("d_num").cast("double") / (na_d * F.col("nb"))
    crit = F.lit(_DRIFT_C) * F.sqrt(
        (na_d + F.col("nb")) / (na_d * F.col("nb"))
    )
    return d.select(
        "event_type",
        F.col("na").alias("n_first"),
        F.col("nb").alias("n_second"),
        d_stat.alias("d_stat"),
        crit.alias("critical"),
        (d_stat > crit).alias("drifted"),
    )


# ---------------------------------------------------------------------------
# q239 — difference-in-differences (two-period user panel)
# ---------------------------------------------------------------------------
@query(
    "q239_diff_in_diff",
    oracle="""
    WITH ev AS (
      SELECT user_id, epoch_us(ts) AS tus,
             CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS yv
      FROM events
    ),
    b AS (SELECT (MIN(tus) + MAX(tus)) // 2 AS cutoff FROM ev),
    pu AS (
      SELECT user_id, user_id % 2 AS variant,
             SUM(CASE WHEN tus < b.cutoff THEN yv ELSE 0 END) AS pre,
             SUM(CASE WHEN tus >= b.cutoff THEN yv ELSE 0 END) AS post
      FROM ev, b GROUP BY 1, 2
    ),
    pv AS (
      SELECT variant, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(pre) AS HUGEINT) AS sp,
             CAST(SUM(post) AS HUGEINT) AS sq,
             CAST(SUM(post - pre) AS HUGEINT) AS sd,
             SUM(CAST(post - pre AS HUGEINT) * (post - pre)) AS sdd
      FROM pu GROUP BY 1
    ),
    t AS (
      SELECT a1.n AS n1, a0.n AS n0,
             CAST(CAST(a1.sp AS VARCHAR) AS DOUBLE) / a1.n AS mp1,
             CAST(CAST(a1.sq AS VARCHAR) AS DOUBLE) / a1.n AS mq1,
             CAST(CAST(a0.sp AS VARCHAR) AS DOUBLE) / a0.n AS mp0,
             CAST(CAST(a0.sq AS VARCHAR) AS DOUBLE) / a0.n AS mq0,
             CAST(CAST(a1.sd AS VARCHAR) AS DOUBLE) / a1.n
               - CAST(CAST(a0.sd AS VARCHAR) AS DOUBLE) / a0.n AS did_u,
             CAST(CAST(a1.n * a1.sdd - a1.sd * a1.sd AS VARCHAR) AS DOUBLE)
               / a1.n / (a1.n - 1) AS v1,
             CAST(CAST(a0.n * a0.sdd - a0.sd * a0.sd AS VARCHAR) AS DOUBLE)
               / a0.n / (a0.n - 1) AS v0
      FROM pv a1, pv a0 WHERE a1.variant = 1 AND a0.variant = 0
    )
    SELECT n1, n0,
           mp1 / 1000000.0 AS mean_pre_treat,
           mq1 / 1000000.0 AS mean_post_treat,
           mp0 / 1000000.0 AS mean_pre_ctrl,
           mq0 / 1000000.0 AS mean_post_ctrl,
           did_u / 1000000.0 AS did_estimate,
           did_u / sqrt(v1 / n1 + v0 / n0) AS z_stat
    FROM t
    """,
)
def q239_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENCE-IN-DIFFERENCES — the workhorse causal estimate when
    randomization is absent or imperfect: each user contributes a
    two-period (pre, post) pair; DiD = (ȳ₁ᵖᵒˢᵗ−ȳ₁ᵖʳᵉ) −
    (ȳ₀ᵖᵒˢᵗ−ȳ₀ᵖʳᵉ) nets out both time trends and fixed group
    differences under parallel trends. On the user panel this reduces
    to a two-sample comparison of per-user DELTAS (post−pre), so the
    standard error is the Welch form over the delta moments — exactly
    the clustering-correct treatment (each user is one independent
    observation, however many events they have). Completes the causal
    corner of the experimentation shelf: q211 adjusts, q227 monitors,
    q235 handles ratios, this one handles non-randomized rollouts.
    All four cell means are reported for the classic 2×2 table.

    Per-user sums are integer micro-units; delta moments exact
    (HUGEINT/decimal); the estimate and z are IEEE-exact compositions
    — the q211 discipline verbatim. One per-user conditional
    aggregate, one 2-row rollup."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("tus"),
        (F.col("value").cast(_DEC_Y) * 1_000_000).cast("long").alias("yv"),
    )
    b = ev.agg(F.expr("(MIN(tus) + MAX(tus)) DIV 2").alias("cutoff"))
    pu = (
        ev.crossJoin(F.broadcast(b))
        .groupBy("user_id", (F.col("user_id") % 2).alias("variant"))
        .agg(
            F.sum(
                F.when(F.col("tus") < F.col("cutoff"), F.col("yv")).otherwise(0)
            ).alias("pre"),
            F.sum(
                F.when(F.col("tus") >= F.col("cutoff"), F.col("yv")).otherwise(0)
            ).alias("post"),
        )
    )
    delta = F.col("post") - F.col("pre")
    pv = pu.groupBy("variant").agg(
        F.count("*").alias("n"),
        F.sum("pre").cast("decimal(38,0)").alias("sp"),
        F.sum("post").cast("decimal(38,0)").alias("sq"),
        F.sum(delta).cast("decimal(38,0)").alias("sd"),
        F.sum(delta.cast("decimal(38,0)") * delta).cast("decimal(38,0)").alias("sdd"),
    )
    a1 = pv.filter(F.col("variant") == 1).select(
        F.col("n").alias("n1"), F.col("sp").alias("sp1"),
        F.col("sq").alias("sq1"), F.col("sd").alias("sd1"),
        F.col("sdd").alias("sdd1"),
    )
    a0 = pv.filter(F.col("variant") == 0).select(
        F.col("n").alias("n0"), F.col("sp").alias("sp0"),
        F.col("sq").alias("sq0"), F.col("sd").alias("sd0"),
        F.col("sdd").alias("sdd0"),
    )
    t = a1.crossJoin(a0).select(
        "n1",
        "n0",
        (_d(F.col("sp1")) / F.col("n1")).alias("mp1"),
        (_d(F.col("sq1")) / F.col("n1")).alias("mq1"),
        (_d(F.col("sp0")) / F.col("n0")).alias("mp0"),
        (_d(F.col("sq0")) / F.col("n0")).alias("mq0"),
        (
            _d(F.col("sd1")) / F.col("n1") - _d(F.col("sd0")) / F.col("n0")
        ).alias("did_u"),
        (
            _d(F.col("n1") * F.col("sdd1") - F.col("sd1") * F.col("sd1"))
            / F.col("n1") / (F.col("n1") - 1)
        ).alias("v1"),
        (
            _d(F.col("n0") * F.col("sdd0") - F.col("sd0") * F.col("sd0"))
            / F.col("n0") / (F.col("n0") - 1)
        ).alias("v0"),
    )
    return t.select(
        "n1",
        "n0",
        (F.col("mp1") / F.lit(1_000_000.0)).alias("mean_pre_treat"),
        (F.col("mq1") / F.lit(1_000_000.0)).alias("mean_post_treat"),
        (F.col("mp0") / F.lit(1_000_000.0)).alias("mean_pre_ctrl"),
        (F.col("mq0") / F.lit(1_000_000.0)).alias("mean_post_ctrl"),
        (F.col("did_u") / F.lit(1_000_000.0)).alias("did_estimate"),
        (
            F.col("did_u")
            / F.sqrt(F.col("v1") / F.col("n1") + F.col("v0") / F.col("n0"))
        ).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# q241 — power analysis / minimum detectable effect (pre-experiment)
# ---------------------------------------------------------------------------
_PW_Z_ALPHA = 1.96  # two-sided alpha = 0.05
_PW_Z_BETA = 0.8416  # power = 0.8 (published normal quantiles)


@query(
    "q241_power_analysis",
    oracle=f"""
    WITH pu AS (
      SELECT user_id,
             SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS y
      FROM events GROUP BY user_id
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS HUGEINT) AS sy,
             SUM(CAST(y AS HUGEINT) * y) AS syy
      FROM pu
    ),
    v AS (
      SELECT n,
             CAST(CAST(sy AS VARCHAR) AS DOUBLE) / n AS mean_u,
             CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE)
               / n / (n - 1) AS var_u
      FROM s
    )
    SELECT n AS n_users, mean_u / 1000000.0 AS mean_metric,
           sqrt(var_u) / 1000000.0 AS stddev_metric,
           ({_PW_Z_ALPHA} + {_PW_Z_BETA})
             * sqrt(2 * var_u / (n / 2)) / 1000000.0 AS mde_abs,
           CAST(floor(({_PW_Z_ALPHA} + {_PW_Z_BETA})
                * sqrt(2 * var_u / (n / 2)) * 10000 / mean_u) AS BIGINT)
             AS mde_bp,
           CAST(CAST(ceil(2 * ({_PW_Z_ALPHA} + {_PW_Z_BETA})
                          * ({_PW_Z_ALPHA} + {_PW_Z_BETA})
                          * var_u / (mean_u * 0.01 * mean_u * 0.01))
                     AS BIGINT) * 2 AS BIGINT) AS n_for_1pct
    FROM v
    """,
)
def q241_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POWER ANALYSIS — the pre-experiment planning table that pairs
    with q227's in-flight monitoring: from the observed per-user
    metric variance, (a) the MINIMUM DETECTABLE EFFECT a 50/50 split
    of the current population can resolve at α=0.05, power 0.8 —
    MDE = (z_{{α/2}}+z_β)·√(2σ²/(n/2)) — in absolute units and basis
    points of the mean, and (b) the total sample size needed to
    detect a 1% lift (n/arm = 2(z_{{α/2}}+z_β)²σ²/Δ²). Every
    experimentation platform shows exactly these two numbers before
    a test launches; shipping them as a query makes the warehouse
    the source of truth for them.

    The z quantiles are published literals (the q227/q233
    discipline); σ² comes from exact integer moments; sqrt/ceil are
    IEEE-exact on exact inputs. One per-user aggregate, one 1-row
    reduction."""
    ev = load_table(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(
        F.sum((F.col("value").cast(_DEC_Y) * 1_000_000).cast("long")).alias("y")
    )
    yd = F.col("y").cast("decimal(38,0)")
    s = pu.agg(
        F.count("*").alias("n"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(yd * F.col("y")).cast("decimal(38,0)").alias("syy"),
    )
    v = s.select(
        "n",
        (_d(F.col("sy")) / F.col("n")).alias("mean_u"),
        (
            _d(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            / F.col("n")
            / (F.col("n") - 1)
        ).alias("var_u"),
    )
    zsum = F.lit(_PW_Z_ALPHA + _PW_Z_BETA)
    mde_u = zsum * F.sqrt(2 * F.col("var_u") / (F.col("n") / 2))
    return v.select(
        F.col("n").alias("n_users"),
        (F.col("mean_u") / F.lit(1_000_000.0)).alias("mean_metric"),
        (F.sqrt(F.col("var_u")) / F.lit(1_000_000.0)).alias("stddev_metric"),
        (mde_u / F.lit(1_000_000.0)).alias("mde_abs"),
        # explicit floor: Spark's double->long cast truncates while
        # DuckDB's CAST rounds — floor() is the one both engines share
        F.floor(mde_u * 10_000 / F.col("mean_u")).cast("long").alias("mde_bp"),
        (
            F.ceil(
                2
                * zsum
                * zsum
                * F.col("var_u")
                / (F.col("mean_u") * 0.01 * F.col("mean_u") * 0.01)
            ).cast("long")
            * 2
        ).cast("long").alias("n_for_1pct"),
    )
