"""EcoWatt serving-layer queries (SURVEY §3 EP2/EP3, §7 phase 4).

Re-expresses every dashboard computation (reference app.py) as a named
query over the star schema produced by the engine's own pipeline. The
pipeline runs on the reference's raw CSVs (fixed location, sf-independent
— these queries ignore sf_dir), so there is no warehouse-table oracle.
Every qe* query is instead value-checked against the reference's own
golden star schema (/root/reference/extracted) read via DuckDB
read_csv_auto: the oracles replay the engine's fact normalization on
the golden floats (_golden_scrub) and, for qe07, the minmax scoring
chain (_golden_minmax) — single IEEE ops applied in the engine's order
land on bit-identical doubles, so all eight dashboard queries are
hash-exact (qe01/qe02/qe07/qe08 were rows-only through round 4).
tests/test_ecowatt_pipeline.py additionally checks the pipeline
against the reference goldens with tolerance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecowatt_etl_spark.cache import ArtifactCache
from ecowatt_etl_spark.queries.registry import query

DATA_DIR = "/root/reference/data"

_STAR_CACHE = ArtifactCache()


def _star(spark: SparkSession):
    """Run the pipeline once per session and cache the (lazy) star schema
    — the engine-side analogue of the dashboard's st.cache_data TTL
    cache over the 6-table load (reference app.py:59-60, C1)."""
    def build():
        from ecowatt_etl_spark.plans.ecowatt_pipeline import run_pipeline

        star = run_pipeline(spark, DATA_DIR)
        # cache() the two facts: every dashboard query re-reads them
        star.fact_ev_impact.cache()
        star.fact_energy_pollution.cache()
        return star

    return _STAR_CACHE.get(spark, build)


GOLDEN_DIR = "/root/reference/extracted"

# Golden-backed oracles: the reference's own extracted star schema is
# the ground truth for the dashboard queries. qe03/qe04 compare
# integer-valued count columns directly. qe05/qe06 additionally
# oracle their float columns by replaying the engine's fact-stage
# normalization (scrub inf/NaN→0, null-fill 0, round 6dp — reference
# main.py:300-331) on the golden CSVs inside the oracle SQL: the
# golden floats predate that normalization, but applying the identical
# transform in DuckDB lands on bit-identical doubles (verified
# row-for-row at build time; data is fixed, so this holds in the
# driver). Spark round() and DuckDB ROUND() both round half away from
# zero on these values. Round 5 extended the replay to the rest of the
# surface: qe01/qe02 (full joined base frames; qe02 also replays the
# surrogate-id block offset and the stale-golden 2022 ratio guard),
# qe07 (minmax scoring chain, _golden_minmax), qe08 (deterministic
# ORDER BY + LIMIT) — every qe* query is oracle-backed.


def _golden_scrub(col: str) -> str:
    """DuckDB twin of the engine's fact normalization chain
    (scrub_nonfinite → na.fill(0.0) → round_doubles(6))."""
    return (
        f"ROUND(COALESCE(CASE WHEN isinf({col}) OR isnan({col}) "
        f"THEN 0.0 ELSE {col} END, 0.0), 6)"
    )


@query(
    "qe01_ev_dashboard_base",
    oracle=f"""
    SELECT CAST(e.SUBURB_KEY AS BIGINT) AS id_suburb,
           CAST(e.column0 + 1 AS BIGINT) AS fact_ev_impact_id,
           CAST(e."YEAR" AS BIGINT) AS "YEAR",
           {_golden_scrub("e.TOTAL_EVS")} AS TOTAL_EVS,
           {_golden_scrub("e.BEV_COUNT")} AS BEV_COUNT,
           {_golden_scrub("e.PHEV_COUNT")} AS PHEV_COUNT,
           {_golden_scrub("e.AVG_RANGE_KM")} AS AVG_RANGE_KM,
           {_golden_scrub("e.AVG_PRICE")} AS AVG_PRICE,
           {_golden_scrub("e.EV_ADOPTION_SCORE")} AS EV_ADOPTION_SCORE,
           s.SUBURB_NAME
    FROM read_csv_auto('{GOLDEN_DIR}/ev_fact.csv') e
    LEFT JOIN read_csv_auto('{GOLDEN_DIR}/suburb_dim.csv') s
      ON e.SUBURB_KEY = s.id_suburb
    """,
)
def qe01_ev_dashboard_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dashboard base frame: fact_ev_impact ⋈ dim_suburb (left,
    broadcast) — reference join_tables (app.py:85-95). Golden-backed
    oracle (was rows-only through round 4): every column is either a
    golden integer/string or a fact-stage float whose normalization
    replays bit-exactly in DuckDB (_golden_scrub — the qe05/qe06
    argument, now applied to the full joined base frame)."""
    star = _star(spark)
    return star.fact_ev_impact.join(
        F.broadcast(star.dim_suburb), "id_suburb", "left"
    )


@query(
    "qe02_energy_dashboard_base",
    oracle=f"""
    SELECT CAST(n.SUBURB_KEY AS BIGINT) AS id_suburb,
           -- the engine keys the 2023 block 1..n then continues the
           -- non-2023 block at n+1 (add_surrogate_key offset=n_rows);
           -- the golden CSV's index RESTARTS per block, so replay the
           -- offset for the later block
           CAST(n.column0 + 1
                + CASE WHEN n."YEAR" = 2023 THEN 0
                       ELSE (SELECT COUNT(*)
                             FROM read_csv_auto('{GOLDEN_DIR}/energy_fact.csv')
                             WHERE "YEAR" = 2023) END
                AS BIGINT) AS fact_energy_pollution_id,
           CAST(n."YEAR" AS BIGINT) AS "YEAR",
           {_golden_scrub("n.ENERGY_CONSUMPTION")} AS ENERGY_CONSUMPTION,
           {_golden_scrub("n.ENERGY_CHANGE_PCT")} AS ENERGY_CHANGE_PCT,
           {_golden_scrub("n.NO2_LEVEL")} AS NO2_LEVEL,
           {_golden_scrub("n.NO2_CHANGE")} AS NO2_CHANGE,
           {_golden_scrub("n.NO2_CHANGE_PCT")} AS NO2_CHANGE_PCT,
           -- golden 2022 rows predate the reference's guarded ratios
           -- (main.py:304-331 overwrite the unguarded replace(0,1)
           -- constructor; SURVEY §1.4: only the guarded semantics
           -- matter) — re-apply the guard to the golden expectation,
           -- exactly as tests/test_ecowatt_pipeline.py's golden
           -- comparison does
           CASE WHEN n."YEAR" = 2022 AND n.ENERGY_CONSUMPTION <= 0
                THEN 0.0
                ELSE {_golden_scrub("n.EV_PER_ENERGY_UNIT")}
           END AS EV_PER_ENERGY_UNIT,
           CASE WHEN n."YEAR" = 2022 AND COALESCE(e.TOTAL_EVS, 0) <= 0
                THEN 0.0
                ELSE {_golden_scrub("n.NO2_PER_EV")}
           END AS NO2_PER_EV,
           s.SUBURB_NAME
    FROM read_csv_auto('{GOLDEN_DIR}/energy_fact.csv') n
    LEFT JOIN read_csv_auto('{GOLDEN_DIR}/suburb_dim.csv') s
      ON n.SUBURB_KEY = s.id_suburb
    LEFT JOIN read_csv_auto('{GOLDEN_DIR}/ev_fact.csv') e
      ON n.SUBURB_KEY = e.SUBURB_KEY
    """,
)
def qe02_energy_dashboard_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fact_energy_pollution ⋈ dim_suburb (reference app.py:98-104).
    Golden-backed oracle since round 5 — same construction as qe01,
    over both year blocks of the energy fact (the surrogate id
    replays as golden row number + 1 across the blocks, and the
    documented stale-golden guard for the 2022 ratio columns replays
    in SQL)."""
    star = _star(spark)
    return star.fact_energy_pollution.join(
        F.broadcast(star.dim_suburb), "id_suburb", "left"
    )


@query(
    "qe03_kpi_row",
    oracle=f"""
    SELECT SUM(TOTAL_EVS) AS total_evs,
           SUM(BEV_COUNT) AS bev_count,
           SUM(PHEV_COUNT) AS phev_count,
           SUM(BEV_COUNT) / SUM(TOTAL_EVS) * 100 AS bev_pct
    FROM read_csv_auto('{GOLDEN_DIR}/ev_fact.csv')
    """,
)
def qe03_kpi_row(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPI row: total EVs / BEV / PHEV sums + BEV share
    (reference app.py:158-175). Oracle-checked against the reference's
    own golden ev_fact: counts are integer-valued doubles, so the sums
    and the single division are bit-exact across engines."""
    star = _star(spark)
    return star.fact_ev_impact.agg(
        F.sum("TOTAL_EVS").alias("total_evs"),
        F.sum("BEV_COUNT").alias("bev_count"),
        F.sum("PHEV_COUNT").alias("phev_count"),
        (F.try_divide(F.sum("BEV_COUNT"), F.sum("TOTAL_EVS")) * 100).alias("bev_pct"),
    )


@query(
    "qe04_top_suburbs",
    oracle=f"""
    SELECT s.SUBURB_NAME, e.TOTAL_EVS, e.BEV_COUNT, e.PHEV_COUNT
    FROM read_csv_auto('{GOLDEN_DIR}/ev_fact.csv') e
    LEFT JOIN read_csv_auto('{GOLDEN_DIR}/suburb_dim.csv') s
      ON e.SUBURB_KEY = s.id_suburb
    ORDER BY e.TOTAL_EVS DESC, s.SUBURB_NAME
    """,
)
def qe04_top_suburbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suburbs ranked by EV count for the stacked bar
    (reference app.py:182-194). Golden-backed oracle: projected
    columns are the string name + integer-valued count doubles only,
    all bit-exact vs the reference's extracted ev_fact."""
    star = _star(spark)
    joined = star.fact_ev_impact.join(F.broadcast(star.dim_suburb), "id_suburb", "left")
    return joined.select("SUBURB_NAME", "TOTAL_EVS", "BEV_COUNT", "PHEV_COUNT").orderBy(
        F.desc("TOTAL_EVS"), F.asc("SUBURB_NAME")
    )


@query(
    "qe05_year_filter",
    oracle=f"""
    SELECT CAST(column0 + 1 AS BIGINT) AS fact_energy_pollution_id,
           CAST(SUBURB_KEY AS BIGINT) AS id_suburb,
           CAST("YEAR" AS BIGINT) AS "YEAR",
           {_golden_scrub("ENERGY_CONSUMPTION")} AS ENERGY_CONSUMPTION,
           {_golden_scrub("ENERGY_CHANGE_PCT")} AS ENERGY_CHANGE_PCT,
           {_golden_scrub("NO2_LEVEL")} AS NO2_LEVEL,
           {_golden_scrub("NO2_CHANGE")} AS NO2_CHANGE,
           {_golden_scrub("NO2_CHANGE_PCT")} AS NO2_CHANGE_PCT,
           {_golden_scrub("EV_PER_ENERGY_UNIT")} AS EV_PER_ENERGY_UNIT,
           {_golden_scrub("NO2_PER_EV")} AS NO2_PER_EV
    FROM read_csv_auto('{GOLDEN_DIR}/energy_fact.csv')
    WHERE "YEAR" = 2023
    """,
)
def qe05_year_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-year slice of the energy fact (reference app.py:231) — with
    the star schema written partitionBy('YEAR') this is partition
    pruning, not a scan-and-filter. Golden-backed oracle: all ten
    columns vs the reference's extracted energy_fact under the
    fact-stage normalization twin (_golden_scrub)."""
    star = _star(spark)
    return star.fact_energy_pollution.filter(F.col("YEAR") == 2023)


@query(
    "qe06_combined_analysis",
    oracle=f"""
    SELECT CAST(e.column0 + 1 AS BIGINT) AS fact_ev_impact_id,
           CAST(e.SUBURB_KEY AS BIGINT) AS id_suburb,
           CAST(e."YEAR" AS BIGINT) AS "YEAR",
           {_golden_scrub("e.TOTAL_EVS")} AS TOTAL_EVS,
           {_golden_scrub("e.BEV_COUNT")} AS BEV_COUNT,
           {_golden_scrub("e.PHEV_COUNT")} AS PHEV_COUNT,
           {_golden_scrub("e.AVG_RANGE_KM")} AS AVG_RANGE_KM,
           {_golden_scrub("e.AVG_PRICE")} AS AVG_PRICE,
           {_golden_scrub("e.EV_ADOPTION_SCORE")} AS EV_ADOPTION_SCORE,
           {_golden_scrub("n.ENERGY_CONSUMPTION")} AS ENERGY_CONSUMPTION,
           {_golden_scrub("n.NO2_LEVEL")} AS NO2_LEVEL,
           {_golden_scrub("n.EV_PER_ENERGY_UNIT")} AS EV_PER_ENERGY_UNIT
    FROM read_csv_auto('{GOLDEN_DIR}/ev_fact.csv') e
    LEFT JOIN (SELECT * FROM read_csv_auto('{GOLDEN_DIR}/energy_fact.csv')
               WHERE "YEAR" = 2023) n
      ON e.SUBURB_KEY = n.SUBURB_KEY
    """,
)
def qe06_combined_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Combined EV-impact ⋈ energy(2023 subset) analysis frame
    (reference app.py:335-340; right side pre-projected app.py:337)."""
    star = _star(spark)
    energy_2023 = star.fact_energy_pollution.filter(F.col("YEAR") == 2023).select(
        "id_suburb", "ENERGY_CONSUMPTION", "NO2_LEVEL", "EV_PER_ENERGY_UNIT"
    )
    return star.fact_ev_impact.join(F.broadcast(energy_2023), "id_suburb", "left")


def _golden_minmax(col: str, scrubbed: str, invert: bool = False) -> str:
    """DuckDB twin of cleaning.minmax_normalize for one column: the
    engine computes ((x - min) / (max - min)) * 100.0 (inverted:
    100.0 - that), min==max → 50.0.  Sub/div/mul are single IEEE ops,
    so replaying them in the same order on bit-identical inputs (the
    _golden_scrub frame) lands on bit-identical doubles — the same
    argument that makes qe05/qe06 hash-exact."""
    lo, hi = f"MIN({scrubbed}) OVER ()", f"MAX({scrubbed}) OVER ()"
    scaled = f"(({scrubbed}) - {lo}) / ({hi} - {lo}) * 100.0"
    if invert:
        scaled = f"100.0 - ({scaled})"
    return (
        f"CASE WHEN {hi} - {lo} = 0 THEN 50.0 ELSE {scaled} END"
        f" AS {col}_score"
    )


@query(
    "qe07_normalized_scores",
    oracle=f"""
    WITH joined AS (
      SELECT s.SUBURB_NAME,
             {_golden_scrub("e.TOTAL_EVS")} AS TOTAL_EVS,
             {_golden_scrub("n.NO2_LEVEL")} AS NO2_LEVEL,
             {_golden_scrub("n.ENERGY_CONSUMPTION")} AS ENERGY_CONSUMPTION
      FROM read_csv_auto('{GOLDEN_DIR}/ev_fact.csv') e
      LEFT JOIN read_csv_auto('{GOLDEN_DIR}/suburb_dim.csv') s
        ON e.SUBURB_KEY = s.id_suburb
      LEFT JOIN (SELECT * FROM read_csv_auto('{GOLDEN_DIR}/energy_fact.csv')
                 WHERE "YEAR" = 2023) n
        ON e.SUBURB_KEY = n.SUBURB_KEY
    )
    SELECT SUBURB_NAME, TOTAL_EVS, NO2_LEVEL, ENERGY_CONSUMPTION,
           {_golden_minmax("TOTAL_EVS", "TOTAL_EVS")},
           {_golden_minmax("NO2_LEVEL", "NO2_LEVEL", invert=True)},
           {_golden_minmax("ENERGY_CONSUMPTION", "ENERGY_CONSUMPTION")}
    FROM joined
    """,
)
def qe07_normalized_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min–max-normalized comparison scores, NO2 inverted
    (lower-is-better), degenerate range → 50 (reference
    app.py:352-359,388-398). Golden-backed oracle (was rows-only
    through round 4): the oracle replays the engine's fact
    normalization (_golden_scrub) AND the minmax chain
    (_golden_minmax) on the reference's extracted star schema — all
    float ops are single IEEE sub/div/mul applied in the engine's
    order, so the scores are bit-exact across engines."""
    from ecowatt_etl_spark.functions.cleaning import minmax_normalize

    star = _star(spark)
    joined = (
        star.fact_ev_impact.join(F.broadcast(star.dim_suburb), "id_suburb", "left")
        .join(
            F.broadcast(
                star.fact_energy_pollution.filter(F.col("YEAR") == 2023).select(
                    "id_suburb", "NO2_LEVEL", "ENERGY_CONSUMPTION"
                )
            ),
            "id_suburb",
            "left",
        )
        .select("SUBURB_NAME", "TOTAL_EVS", "NO2_LEVEL", "ENERGY_CONSUMPTION")
    )
    return minmax_normalize(
        joined,
        ["TOTAL_EVS", "NO2_LEVEL", "ENERGY_CONSUMPTION"],
        invert={"NO2_LEVEL"},
    )


@query(
    "qe08_adhoc_sql",
    oracle=f"""
    SELECT s.SUBURB_NAME,
           {_golden_scrub("f.TOTAL_EVS")} AS TOTAL_EVS,
           {_golden_scrub("f.AVG_PRICE")} AS AVG_PRICE
    FROM read_csv_auto('{GOLDEN_DIR}/ev_fact.csv') f
    JOIN read_csv_auto('{GOLDEN_DIR}/suburb_dim.csv') s
      ON f.SUBURB_KEY = s.id_suburb
    ORDER BY {_golden_scrub("f.TOTAL_EVS")} DESC, s.SUBURB_NAME
    LIMIT 10
    """,
)
def qe08_adhoc_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ad-hoc SQL passthrough (reference app.py:519-538): user SQL runs
    on the engine's catalog via spark.sql — Catalyst replaces Azure SQL
    Server as parser/optimizer/executor. Dialect shift: T-SQL
    'SELECT TOP 10' → 'LIMIT 10' (SURVEY §3 EP3). Golden-backed oracle
    since round 5: the projected columns replay via _golden_scrub and
    the ORDER BY is fully deterministic (TOTAL_EVS desc, then the
    unique SUBURB_NAME), so the LIMIT-10 row SET is engine-independent."""
    from ecowatt_etl_spark.plans.ecowatt_pipeline import register_star_views

    star = _star(spark)
    register_star_views(star)
    return spark.sql(
        """
        SELECT s.SUBURB_NAME, f.TOTAL_EVS, f.AVG_PRICE
        FROM fact_ev_impact f
        JOIN dim_suburb s USING (id_suburb)
        ORDER BY f.TOTAL_EVS DESC, s.SUBURB_NAME
        LIMIT 10
        """
    )
