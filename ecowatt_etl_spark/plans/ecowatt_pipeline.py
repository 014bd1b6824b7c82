"""The EcoWatt ETL pipeline, Spark-first (SURVEY §3 EP1, §7 phase 3).

Reference lifecycle (reference main.py:371-437): extract 3 CSVs →
3 independent pandas transform branches → 2 full-outer conformance
merges → star-schema modeling (4 dims + 2 facts) → load. Every stage
there materializes an eager frame. Here extract → transform → merge is
one lazy DAG: Catalyst fuses the 20+ intermediate projections, prunes
unused columns at the scans, and evaluates the three branches
independently. ``run_pipeline`` runs the plan guard on that DAG before
any of it executes, then materialises the conformed per-suburb frame
once (``localCheckpoint``). The suburb dimension and both facts are
lazy plans over those rows, so ``write_star_schema``'s six concurrent
writes neither re-plan nor re-scan the CSVs; only the vehicle-type
dimension scans the EV CSV again, because the reference takes vehicle
types from the unfiltered EV frame, which the conformed frame does not
carry. The suburb-grained frame is tiny next to its inputs, which is
what makes holding it in executor storage safe at any input size.

Semantic parity notes (pandas → Spark):
  - to_numeric(errors='coerce') NaN  → try_cast NULL (F4)
  - mean() skips NaN                 → avg() skips NULL (same results)
  - x/0 → ±inf in pandas, NULL in Spark — both scrubbed to 0 at the
    fact stage exactly where the reference scrubs (main.py:266,283,334)
  - pandas outer merge sorts on the join key → surrogate ids follow
    sorted-suburb order; reproduced with row_number over SUBURB.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ecowatt_etl_spark.functions.cleaning import (
    guarded_div,
    parse_dayfirst_date,
    pct_change,
    recode,
    regexp_extract_null,
    round_doubles,
    scrub_nonfinite,
    split_first,
    title_case,
    try_double,
)
from ecowatt_etl_spark.operators.keys import add_surrogate_key
from ecowatt_etl_spark.sources.csv_sources import (
    read_electricity,
    read_ev_population,
    read_pollution,
)

# Station → suburb recode (reference main.py:134-142).
SUBURB_MAPPING = {
    "Alexandria": "Alexandria",
    "Rozelle": "Rozelle",
    "Earlwood": "Earlwood",
    "Cook And Phillip": "Sydney",
    "Randwick": "Randwick",
    "Macquarie Park": "Macquarie Park",
    "Parramatta North": "Parramatta",
}


# ---------------------------------------------------------------------------
# transform branches
# ---------------------------------------------------------------------------
def transform_ev(ev_raw: DataFrame) -> DataFrame:
    """Per-suburb EV summary (reference transform_ev_data, main.py:41-81).

    The reference computes TOTAL/BEV/PHEV/avg-range/avg-price as FIVE
    separate groupbys stitched into a frame (main.py:70-76); here it is
    one hash aggregate with conditional counts — one scan, one shuffle.
    """
    ev = (
        ev_raw.filter(F.col("FUEL_TYPE").isin("BEV", "PHEV"))
        .withColumn("VEHICLE_CATEGORY", F.trim("VEHICLE_TYPE"))
        .withColumn("MODEL_YEAR", regexp_extract_null("MODEL", r"(\d{4})").cast("double"))
        .withColumn(
            "PRICE", try_double(F.trim(F.regexp_replace("LISTED_PRICE", r"\*", "")))
        )
        .withColumn("RANGE_KM", try_double("RANGE"))
        .withColumn("SUBURB", F.trim("SUBURB"))
    )
    summary = ev.groupBy("SUBURB").agg(
        F.count("*").cast("double").alias("TOTAL_EVs"),
        F.count_if(F.col("FUEL_TYPE") == "BEV").cast("double").alias("BEV_COUNT"),
        F.count_if(F.col("FUEL_TYPE") == "PHEV").cast("double").alias("PHEV_COUNT"),
        F.avg("RANGE_KM").alias("AVG_RANGE_KM"),
        F.avg("PRICE").alias("AVG_PRICE"),
    )
    # reference fillna(0) (main.py:79) — covers all-null avg groups
    return summary.na.fill(0.0)


def transform_electricity(elec_raw: DataFrame) -> DataFrame:
    """Electricity subset + YoY change (reference main.py:83-108):
    project 3 of 17 wide fiscal-year columns (column pruning reaches
    the scan), split '+'-joined suburb names, pct-change derivation."""
    return (
        elec_raw.select(
            split_first("Name", "+").alias("SUBURB"),
            try_double("F2021_22").alias("CONSUMPTION_2022"),
            try_double("F2022_23").alias("CONSUMPTION_2023"),
        )
        .withColumn(
            "CONSUMPTION_CHANGE_PCT", pct_change("CONSUMPTION_2022", "CONSUMPTION_2023")
        )
    )


def transform_pollution(poll_raw: DataFrame) -> DataFrame:
    """Pollution wide→long→wide reshape (reference main.py:110-169).

    Wide station matrix → unpivot to (Date, LOCATION, NO2_LEVEL) →
    station name regex + title-case → recode to suburbs (the isin
    filter against mapping keys is the semi-join in disguise, SURVEY
    §2.5) → year extraction → pivot to per-(suburb, year) means.
    """
    no2_cols = [c for c in poll_raw.columns if "NO2 annual average" in c]
    long = poll_raw.unpivot(
        ids=["Date"], values=no2_cols, variableColumnName="LOCATION", valueColumnName="NO2_RAW"
    ).withColumn("NO2_LEVEL", try_double("NO2_RAW"))

    long = (
        long.withColumn(
            "STATION", title_case(regexp_extract_null("LOCATION", r"(.*) NO2 annual average"))
        )
        .filter(F.col("STATION").isin(*SUBURB_MAPPING.keys()))
        .withColumn("SUBURB", recode("STATION", SUBURB_MAPPING))
        .withColumn("YEAR", F.year(parse_dayfirst_date("Date")))
        .filter(F.col("YEAR").isin(2022, 2023))
    )

    piv = (
        long.groupBy("SUBURB")
        .pivot("YEAR", [2022, 2023])
        .agg(F.avg("NO2_LEVEL"))
        .withColumnsRenamed({"2022": "NO2_2022", "2023": "NO2_2023"})
    )
    return piv.withColumns(
        {
            "NO2_CHANGE": F.col("NO2_2023") - F.col("NO2_2022"),
            "NO2_CHANGE_PCT": pct_change("NO2_2022", "NO2_2023"),
        }
    )


# ---------------------------------------------------------------------------
# conformance merge
# ---------------------------------------------------------------------------
_FILL_ZERO = [
    "TOTAL_EVs",
    "BEV_COUNT",
    "PHEV_COUNT",
    "AVG_RANGE_KM",
    "AVG_PRICE",
    "CONSUMPTION_2022",
    "CONSUMPTION_2023",
    "CONSUMPTION_CHANGE_PCT",
    "NO2_2022",
    "NO2_2023",
    "NO2_CHANGE",
    "NO2_CHANGE_PCT",
]


def merge_datasets(
    ev_summary: DataFrame, electricity: DataFrame, pollution: DataFrame
) -> DataFrame:
    """Two full-outer conformance joins + null-fill + derived metrics
    (reference merge_datasets, main.py:171-202). The named-column join
    form coalesces SUBURB like pandas merge. All three branches are
    suburb-grained (tiny vs their inputs) — at scale these joins ride
    AQE broadcast; the heavy lifting happened in the upstream aggs."""
    merged = ev_summary.join(electricity, "SUBURB", "full_outer").join(
        pollution, "SUBURB", "full_outer"
    )
    merged = merged.na.fill(dict.fromkeys(_FILL_ZERO, 0.0))
    return merged.withColumns(
        {
            # unguarded, like the reference at this stage (main.py:198-200);
            # pandas yields ±inf/NaN here, Spark NULL — both are scrubbed
            # to 0 at the fact stage, where the reference scrubs.
            "EV_PER_ENERGY_UNIT": F.try_divide(
                F.col("TOTAL_EVs"), F.col("CONSUMPTION_2023") / 1e6
            ),
            "NO2_PER_EV": F.col("NO2_2023")
            / F.when(F.col("TOTAL_EVs") == 0, 1.0).otherwise(F.col("TOTAL_EVs")),
            "EV_ADOPTION_SCORE": F.col("TOTAL_EVs") * (1 - F.col("NO2_CHANGE_PCT") / 100),
        }
    )


# ---------------------------------------------------------------------------
# star-schema modeling
# ---------------------------------------------------------------------------
@dataclass
class StarSchema:
    dim_time: DataFrame
    dim_suburb: DataFrame
    dim_vehicle_type: DataFrame
    dim_fuel_type: DataFrame
    fact_ev_impact: DataFrame
    fact_energy_pollution: DataFrame

    def tables(self) -> dict[str, DataFrame]:
        return {
            "dim_time": self.dim_time,
            "dim_suburb": self.dim_suburb,
            "dim_vehicle_type": self.dim_vehicle_type,
            "dim_fuel_type": self.dim_fuel_type,
            "fact_ev_impact": self.fact_ev_impact,
            "fact_energy_pollution": self.fact_energy_pollution,
        }


def _literal_table(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """A literal table planned in the JVM: an inline generator over a
    one-row scan. ``createDataFrame`` would make it a pickled Python RDD
    that the plan guard cannot read into and that starts Python workers
    to write two rows. The cast gives the columns ``ddl``'s names, types
    and nullability, so the written parquet schema is the one
    ``createDataFrame`` wrote."""
    structs = F.array(*(F.struct(*map(F.lit, row)) for row in rows))
    return spark.sql("SELECT 1").select(F.inline(structs.cast(f"array<struct<{ddl}>>")))


def build_dimensions(
    spark: SparkSession, final_df: DataFrame, ev_raw: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Dimensions (reference create_dimension_tables, main.py:204-238):
    two literal dims, suburb ids in sorted order (pandas outer merge
    sorts its key — row_number over SUBURB reproduces the golden ids),
    vehicle types from the RAW (unfiltered) EV frame."""
    dim_time = _literal_table(
        spark,
        [(2022, 2022, False), (2023, 2023, True)],
        "id_time long, YEAR long, IS_CURRENT_YEAR boolean",
    )
    dim_suburb = add_surrogate_key(
        final_df.select(F.col("SUBURB").alias("SUBURB_NAME")), "id_suburb", ["SUBURB_NAME"]
    ).select("id_suburb", "SUBURB_NAME")
    dim_vehicle = add_surrogate_key(
        ev_raw.select(F.trim("VEHICLE_TYPE").alias("VEHICLE_TYPE")).distinct(),
        "id_vehicle_type",
        ["VEHICLE_TYPE"],
    ).select("id_vehicle_type", "VEHICLE_TYPE")
    dim_fuel = _literal_table(
        spark,
        [
            (1, "BEV", "Battery Electric Vehicle"),
            (2, "PHEV", "Plug-in Hybrid Electric Vehicle"),
        ],
        "id_fuel_type long, FUEL_TYPE string, FUEL_DESCRIPTION string",
    )
    return dim_time, dim_suburb, dim_vehicle, dim_fuel


def build_facts(
    final_df: DataFrame, dim_suburb: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Fact tables (reference create_fact_tables, main.py:240-349).

    Key resolution is a broadcast left join to the suburb dim
    (main.py:245-251); 2023 metrics keep the reference's unguarded-
    then-scrubbed semantics; synthesized 2022 rows use the guarded
    ratios (safe_ev_per_energy / safe_no2_per_ev, main.py:304-331) —
    there a row-wise Python .apply, here codegen'd `when` chains. Ids
    follow sorted-suburb order, 2022 block offset by n = len(final_df)
    (main.py:288): a window count in the same single-partition pass
    that numbers the ids, not a separate action.
    """
    counted = final_df.withColumn("_N_ROWS", F.count(F.lit(1)).over(W.partitionBy()))
    with_keys = counted.join(
        F.broadcast(dim_suburb),
        counted.SUBURB == dim_suburb.SUBURB_NAME,
        "left",
    )

    ev_fact = add_surrogate_key(with_keys, "fact_ev_impact_id", ["SUBURB"]).select(
        "fact_ev_impact_id",
        "id_suburb",
        F.lit(2023).alias("YEAR"),
        F.col("TOTAL_EVs").alias("TOTAL_EVS"),
        "BEV_COUNT",
        "PHEV_COUNT",
        "AVG_RANGE_KM",
        "AVG_PRICE",
        scrub_nonfinite("EV_ADOPTION_SCORE").alias("EV_ADOPTION_SCORE"),
    )

    energy_2023 = add_surrogate_key(with_keys, "fact_energy_pollution_id", ["SUBURB"]).select(
        "fact_energy_pollution_id",
        "id_suburb",
        F.lit(2023).alias("YEAR"),
        F.col("CONSUMPTION_2023").alias("ENERGY_CONSUMPTION"),
        scrub_nonfinite("CONSUMPTION_CHANGE_PCT").alias("ENERGY_CHANGE_PCT"),
        F.col("NO2_2023").alias("NO2_LEVEL"),
        "NO2_CHANGE",
        "NO2_CHANGE_PCT",
        scrub_nonfinite("EV_PER_ENERGY_UNIT").alias("EV_PER_ENERGY_UNIT"),
        scrub_nonfinite("NO2_PER_EV").alias("NO2_PER_EV"),
    )

    energy_2022 = add_surrogate_key(
        with_keys, "fact_energy_pollution_id", ["SUBURB"], offset=F.col("_N_ROWS")
    ).select(
        "fact_energy_pollution_id",
        "id_suburb",
        F.lit(2022).alias("YEAR"),
        F.col("CONSUMPTION_2022").alias("ENERGY_CONSUMPTION"),
        F.lit(0.0).alias("ENERGY_CHANGE_PCT"),
        F.col("NO2_2022").alias("NO2_LEVEL"),
        F.lit(0.0).alias("NO2_CHANGE"),
        F.lit(0.0).alias("NO2_CHANGE_PCT"),
        scrub_nonfinite(
            guarded_div("TOTAL_EVs", F.col("CONSUMPTION_2022") / 1e6)
        ).alias("EV_PER_ENERGY_UNIT"),
        scrub_nonfinite(guarded_div("NO2_2022", "TOTAL_EVs")).alias("NO2_PER_EV"),
    )

    ev_fact = round_doubles(ev_fact.na.fill(0.0), 6)
    energy_fact = round_doubles(energy_2023.na.fill(0.0), 6).unionByName(
        round_doubles(energy_2022.na.fill(0.0), 6)
    )
    return ev_fact, energy_fact


# ---------------------------------------------------------------------------
# end-to-end
# ---------------------------------------------------------------------------
def run_pipeline(spark: SparkSession, data_dir: str) -> StarSchema:
    """extract → transform ×3 → merge → model.

    The plan guard (plans/guard.py) checks the conformed frame's whole
    DAG before any Spark job runs, so a banned shape upstream (a
    cartesian merge, a row-wise Python UDF in a transform) fails here
    without touching the data. The frame is then materialised once
    (``localCheckpoint``: one pass over the CSVs, rows held in executor
    storage and released when the returned frames are garbage
    collected); the suburb dimension and the facts are lazy plans over
    it."""
    from ecowatt_etl_spark.plans.guard import assert_scalable

    ev_raw = read_ev_population(spark, f"{data_dir}/Ev_Population.csv")
    elec_raw = read_electricity(spark, f"{data_dir}/Electricity_Consumption.csv")
    poll_raw = read_pollution(spark, f"{data_dir}/Pollution_Index.csv")

    final_df = merge_datasets(
        transform_ev(ev_raw), transform_electricity(elec_raw), transform_pollution(poll_raw)
    )
    final_df = assert_scalable(final_df).localCheckpoint()
    dim_time, dim_suburb, dim_vehicle, dim_fuel = build_dimensions(spark, final_df, ev_raw)
    ev_fact, energy_fact = build_facts(final_df, dim_suburb)
    return StarSchema(dim_time, dim_suburb, dim_vehicle, dim_fuel, ev_fact, energy_fact)


def write_star_schema(
    star: StarSchema,
    out_dir: str,
    fmt: str = "parquet",
    quality_gate: bool = True,
    plan_gate: bool = True,
) -> dict[str, dict[str, int]]:
    """Load stage (reference load_to_azure + CSV side-writes,
    main.py:214-236,345-346,351-369): facts partitioned by YEAR —
    partition pruning for every per-year dashboard query is free
    (SURVEY §4) — dims unpartitioned. CSV sink supported for parity;
    Parquet is the engine contract.

    ``plan_gate`` runs plans/guard.py admission control on every table
    BEFORE any write starts: a transform edit that silently turns a
    dimension join cartesian or introduces a row-wise Python UDF fails
    the load at submit time, not as a cluster incident. The star frames
    carry no waivers — every join in this pipeline is broadcast/equi by
    design, so any banned shape is a regression.

    ``quality_gate`` publishes each fact through
    ``sources/expectations.write_checked``: the fact is written to a
    staging directory with its row count and null-``id_suburb`` count
    riding the write job itself (no validation re-scan), and is renamed
    into place only if it has rows and no null surrogate keys. A failed
    fact therefore never replaces the previous one: the Spark-native
    form of the reference's post-stage print checks (main.py:392-433),
    turned from console output into a hard gate. Returns each fact's
    metrics for caller-side audit logs.

    After the plan gate the six writes run concurrently, one thread per
    table, so one table's planning and code generation on the driver
    overlaps another's tasks. Each thread carries the caller's Spark
    job group, local properties and session tags, so the write jobs
    are attributed (and cancellable) as the caller's. Every write is
    waited for; then the first failure in table order — a failed write
    or a refused fact — is raised."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    from ecowatt_etl_spark.plans.guard import assert_scalable
    from ecowatt_etl_spark.sources.expectations import write_checked

    tables = star.tables()
    if plan_gate:
        for df in tables.values():
            assert_scalable(df)

    def write(name: str, df: DataFrame) -> dict[str, int] | None:
        path, fact = f"{out_dir}/{name}", name.startswith("fact_")
        if fact and quality_gate:
            checks = {"n_null_id_suburb": F.col("id_suburb").isNotNull()}
            return write_checked(df, path, checks, fmt, partition_by=("YEAR",))
        writer = df.write.mode("overwrite")
        if fact:
            writer = writer.partitionBy("YEAR")
        if fmt == "csv":
            writer.options(header=True).csv(path)
        else:
            writer.parquet(path)
        return None

    spark = star.dim_time.sparkSession
    with ThreadPoolExecutor(max_workers=len(tables)) as pool:
        # wrapped once per table: each thread gets its own copy of the
        # caller's local properties, where Spark also keeps the running
        # SQL execution id
        futures = {
            name: pool.submit(inheritable_thread_target(spark)(write), name, df)
            for name, df in tables.items()
        }
    collected: dict[str, dict[str, int]] = {}
    for name, future in futures.items():
        metrics = future.result()
        if metrics is not None:
            collected[name] = metrics
    return collected


def register_star_views(star: StarSchema) -> None:
    """Serving-side catalog registration (replaces the reference's
    Azure SQL tables; SURVEY §3 EP2/EP3)."""
    for name, df in star.tables().items():
        df.createOrReplaceTempView(name)
