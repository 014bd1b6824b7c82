"""Event-time window queries on the `events` table (SURVEY §2.8/§7 ph5).

The reference has no streaming surface at all; these are the engine's
event-time operators, implemented batch-first (identical DataFrame code
runs under Structured Streaming — see streaming/events_stream.py, which
reuses these builders on readStream inputs).

Timestamps are emitted as formatted strings ('yyyy-MM-dd HH:mm:ss') so
the oracle hash is independent of engine timezone/typing conventions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ecowatt_etl_spark.functions.exact import exact_sum, sql_exact_sum
from ecowatt_etl_spark.queries.registry import query
from ecowatt_etl_spark.sources.tables import load_table

_TS_FMT = "yyyy-MM-dd HH:mm:ss"
_SQL_TS_FMT = "%Y-%m-%d %H:%M:%S"


# ---------------------------------------------------------------------------
# q40 — tumbling window
# ---------------------------------------------------------------------------
_Q40_ORACLE = f"""
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '{_SQL_TS_FMT}') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {sql_exact_sum("value", "sum_value")}
    FROM events
    GROUP BY 1, 2
    """


@query("q40_tumbling_window", oracle=_Q40_ORACLE)
def q40_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling event-time windows per event type.

    F.window is the same operator Structured Streaming uses with a
    watermark; in batch it is just a projection (bucket start =
    floor(ts)) + hash agg — shuffle on (window, type) only.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), exact_sum("value", "sum_value"))
        .select(
            F.date_format("w.start", _TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# q41 — sliding window
# ---------------------------------------------------------------------------
@query(
    "q41_sliding_window",
    oracle=f"""
    WITH assigned AS (
      SELECT time_bucket(INTERVAL '30 minutes', ts) AS ws, value FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes', value
      FROM events
    )
    SELECT strftime(ws, '{_SQL_TS_FMT}') AS window_start,
           COUNT(*) AS n_events,
           {sql_exact_sum("value", "sum_value")}
    FROM assigned
    GROUP BY 1
    """,
)
def q41_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 minutes (each event lands in 2).

    The generate step fans each row into window_count = size/slide
    copies before the aggregate — at scale, slide granularity is a
    direct row-amplification knob (size/slide ×).
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), exact_sum("value", "sum_value"))
        .select(
            F.date_format("w.start", _TS_FMT).alias("window_start"),
            "n_events",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# q42 — session window (gap-based)
# ---------------------------------------------------------------------------
_Q42_ORACLE = f"""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL '5 minutes'
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sessions AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM flagged
    )
    SELECT user_id,
           strftime(MIN(ts), '{_SQL_TS_FMT}') AS session_start,
           COUNT(*) AS n_events,
           {sql_exact_sum("value", "sum_value")}
    FROM sessions
    GROUP BY user_id, session_seq
    """


@query("q42_session_window", oracle=_Q42_ORACLE)
def q42_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (5-minute inactivity gap) per user via
    the native session_window operator.

    session_window merges windows whose gap < 5 min (an event exactly
    5 min after the previous one starts a NEW session — the oracle's
    `>=` reproduces that boundary). In streaming the identical
    expression runs with a watermark; state is per (user, open session).
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), exact_sum("value", "sum_value"))
        .select(
            "user_id",
            F.date_format("w.start", _TS_FMT).alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# q43 — sessionization via lag + cumulative sum (gaps-and-islands)
# ---------------------------------------------------------------------------
@query(
    "q43_sessionize_lag",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL '5 minutes'
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    )
    SELECT user_id,
           CAST(SUM(new_session) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM flagged
    GROUP BY user_id
    """,
)
def q43_sessionize_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session counting via the lag/cumsum (gaps-and-islands) pattern —
    the composition form of q42, useful when session identity must be
    joined back to rows. One shuffle on user_id serves both the window
    and the aggregate."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts")
    flagged = ev.select(
        "user_id",
        "ts",
        F.when(
            F.lag("ts").over(w).isNull()
            # exact integer microsecond arithmetic (mirrors the oracle's
            # interval compare; double epoch-seconds would lose precision)
            | (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)) >= 300_000_000),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    return flagged.groupBy("user_id").agg(
        F.sum("new_session").alias("n_sessions"), F.count("*").alias("n_events")
    )


# ---------------------------------------------------------------------------
# q44/q45 — the SAME aggregations under Structured Streaming (rows-only:
# streaming semantics aren't SQL-oracle-expressible; batch equivalence is
# asserted in tests/test_streaming.py against q40/q42)
# ---------------------------------------------------------------------------
@query("q44_stream_tumbling", oracle=_Q40_ORACLE)
def q44_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q40's tumbling-window aggregation executed as a Structured
    Streaming query (file source replay → watermark → memory sink,
    complete mode). The value sum routes through exact decimal, so the
    full replay is bit-identical to the batch rollup and the query
    carries q40's EXACT oracle — batch/stream parity as a value gate,
    not just a rows check."""
    from ecowatt_etl_spark.streaming.events_stream import (
        read_events_stream,
        run_to_completion,
        tumbling_counts,
    )

    agg = tumbling_counts(read_events_stream(spark, sf_dir))
    return run_to_completion(agg, "q44_stream_tumbling_sink", output_mode="complete")


@query("q45_stream_sessions", oracle=_Q42_ORACLE)
def q45_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q42's session-window aggregation under Structured Streaming with
    a 10-minute watermark (per-user merging session state). Exact-
    decimal value sums make the replayed sessions bit-identical to the
    batch q42, so the merging-session state path carries q42's exact
    oracle."""
    from ecowatt_etl_spark.streaming.events_stream import (
        read_events_stream,
        run_to_completion,
        session_aggregates,
    )

    agg = session_aggregates(read_events_stream(spark, sf_dir))
    return run_to_completion(agg, "q45_stream_sessions_sink", output_mode="complete")


# ---------------------------------------------------------------------------
# q46 — as-of join (each purchase matched to the user's latest view ≤ ts)
# ---------------------------------------------------------------------------
@query(
    "q46_asof_join",
    oracle=f"""
    WITH tagged AS (
      SELECT user_id, ts, event_id, event_type FROM events
      WHERE event_type IN ('view', 'purchase')
    ),
    p AS (SELECT * FROM tagged WHERE event_type = 'purchase'),
    v AS (SELECT * FROM tagged WHERE event_type = 'view'),
    matched AS (
      SELECT p.event_id AS purchase_id, p.user_id,
             strftime(p.ts, '{_SQL_TS_FMT}') AS purchase_ts,
             MAX(CASE WHEN v.ts IS NOT NULL
                      THEN {{'ts': v.ts, 'id': v.event_id}} END) AS lv,
             epoch_us(p.ts) AS p_us
      FROM p LEFT JOIN v ON v.user_id = p.user_id AND v.ts <= p.ts
      GROUP BY 1, 2, 3, 5
    )
    SELECT purchase_id, user_id, purchase_ts,
           lv.id AS view_id,
           CASE WHEN lv.ts IS NULL THEN NULL
                ELSE (p_us - epoch_us(lv.ts)) // 1000000 END AS gap_sec
    FROM matched
    """,
)
def q46_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event picks the same user's most
    recent view at-or-before its timestamp (ties on ts broken by max
    event_id — struct max is lexicographic in both engines).

    Spark-first shape: NOT a range join (which explodes to |P|×|V| per
    user before filtering). Both streams union into one pass, and a
    running MAX over a RANGE window (unbounded-preceding → current ts)
    carries the latest view forward — one shuffle on user_id, linear
    work per user, the standard scale-out as-of. The RANGE frame (not
    ROWS) is what admits same-timestamp views, matching the oracle's
    `v.ts <= p.ts`."""
    ev = load_table(spark, sf_dir, "events")
    tagged = ev.filter(F.col("event_type").isin("view", "purchase")).select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts")
        .rangeBetween(W.unboundedPreceding, W.currentRow)
    )
    lv = F.max(
        F.when(F.col("event_type") == "view", F.struct("ts", "event_id"))
    ).over(w)
    return (
        tagged.withColumn("lv", lv)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.date_format("ts", _TS_FMT).alias("purchase_ts"),
            F.col("lv.event_id").alias("view_id"),
            F.floor(
                (F.unix_micros("ts") - F.unix_micros("lv.ts")) / F.lit(1_000_000)
            ).alias("gap_sec"),
        )
    )


# ---------------------------------------------------------------------------
# q47 — JSON property extraction + aggregation
# ---------------------------------------------------------------------------
@query(
    "q47_json_props",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def q47_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payloads: extract `$.k` from the JSON `props`
    column and aggregate per event type. get_json_object is a
    codegen'd JVM path (no UDF); for repeated multi-field access at
    scale, from_json with an explicit schema parses once per row into
    a struct — same plan shape, one parse instead of N."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


# ---------------------------------------------------------------------------
# q48 — range-window lookback (events per user in the trailing 5 minutes)
# ---------------------------------------------------------------------------
@query(
    "q48_range_lookback",
    oracle=f"""
    WITH w AS (
      SELECT event_id, user_id, ts, event_type,
             COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                            RANGE BETWEEN 300000000 PRECEDING AND CURRENT ROW)
               AS n_5min
      FROM events
    )
    SELECT event_id, user_id, strftime(ts, '{_SQL_TS_FMT}') AS ts_str, n_5min
    FROM w WHERE event_type = 'error'
    """,
)
def q48_range_lookback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every error event: how many events (any type) did the same
    user produce in the trailing 5 minutes (inclusive)? A RANGE window
    over microsecond event time — the burst/rate-limit detection shape.
    Scale: one shuffle on user_id + per-user sort; the frame is a
    sliding pointer pair over each sorted partition, O(n) per user —
    no self-join blowup."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-300_000_000, W.currentRow)
    )
    return (
        ev.withColumn("n_5min", F.count("*").over(w))
        .filter(F.col("event_type") == "error")
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", _TS_FMT).alias("ts_str"),
            "n_5min",
        )
    )


# ---------------------------------------------------------------------------
# q49 — custom stateful streaming operator (rows-only; batch parity in
# tests/test_streaming.py)
# ---------------------------------------------------------------------------
@query(
    "q49_stream_stateful_totals",
    oracle=f"""
    SELECT user_id,
           COUNT(*) AS n_events,
           {sql_exact_sum("value", "sum_value")}
    FROM events GROUP BY user_id
    """,
)
def q49_stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user totals via applyInPandasWithState under
    Structured Streaming (file-source replay → explicit GroupState →
    memory sink). The state accumulates integer cents (values are 2-dp
    money), so the running total is exact and batch-split-invariant —
    the GroupState path carries an exact oracle instead of the
    rows-only check float state would force."""
    from ecowatt_etl_spark.streaming.events_stream import (
        read_events_stream,
        replay_state_partitions,
        run_to_completion,
        stateful_user_totals,
    )

    agg = stateful_user_totals(read_events_stream(spark, sf_dir))
    return run_to_completion(
        agg,
        "q49_stream_stateful_sink",
        output_mode="update",
        # scale-adaptive state sizing (r12): see replay_state_partitions
        shuffle_partitions=replay_state_partitions(spark, sf_dir),
    )


# ---------------------------------------------------------------------------
# q277 — the q49 totals through transformWithStateInPandas (Spark 4's
# named-state API), live under ANY session incl. the driver's
# ---------------------------------------------------------------------------
@query(
    "q277_stream_totals_tws",
    oracle=f"""
    SELECT user_id,
           COUNT(*) AS n_events,
           {sql_exact_sum("value", "sum_value")}
    FROM events GROUP BY user_id
    """,
)
def q277_stream_totals_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q49's running per-user totals re-expressed on
    ``transformWithStateInPandas`` — Spark 4's successor stateful API
    (named ValueState/ListState/MapState, timers, TTL, mandatory
    RocksDB state store) — under the SAME exact-decimal oracle: state
    accumulates integer cents, so the result is batch-split-invariant
    and bit-identical to the batch GROUP BY whatever the replay
    slicing. The API was env-gated through r7 (no protobuf wheel in
    the container); this query exists precisely because the gap is
    now closed end-to-end: ``proto_vendor.ensure_protobuf_on`` flips
    the vendored runtime live on ALREADY-RUNNING sessions (the
    external driver's included) by shipping a patched zip through the
    per-function worker environment — the one channel that reaches
    TWS's include-blind schema-validation driver worker. The RocksDB
    provider requirement is satisfied per-run and restored: provider
    choice is a first-checkpoint capacity decision that must not leak
    into unrelated streams on a shared session."""
    from ecowatt_etl_spark.streaming.events_stream import (
        read_events_stream,
        run_to_completion,
        stateful_totals_tws,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    # conf.get(key) with no default returns the SQLConf DEFAULT string
    # for defined confs rather than raising, which would leave the
    # session explicitly pinned after restore; the two-arg form yields
    # None only when the conf was never user-set, so unset() below
    # genuinely restores the unset state (r8 ADVICE).
    old = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        agg = stateful_totals_tws(read_events_stream(spark, sf_dir))
        # State partitions sized to the session's parallelism, not
        # run_to_completion's tiny-replay default of 8 (r10 verdict
        # item 6): TWS's per-key Python state-server protocol is the
        # dominant cost at scale and it parallelizes per state
        # partition — measured at the 100× corpus (150k keys, 10M
        # events, 32 cores): 8 partitions 108.5 s → 32 partitions
        # 62.4 s cold / 34.7 s warm; 64 partitions regresses (82 s —
        # oversubscription + one RocksDB instance per partition).
        # Values are partition-count-invariant by construction
        # (integer-cents state, batch-split-independent), so this is
        # purely a capacity sizing — the same decision a real
        # deployment fixes at first checkpoint.
        return run_to_completion(
            agg,
            "q277_tws_sink",
            output_mode="update",
            shuffle_partitions=max(8, spark.sparkContext.defaultParallelism),
        )
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


# ---------------------------------------------------------------------------
# q49a/q49b — interval join, batch (oracle) and stream-stream (rows-only)
# ---------------------------------------------------------------------------
@query(
    "q49a_interval_join",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id, v.event_id AS view_id
    FROM events p JOIN events v
      ON v.user_id = p.user_id
     AND v.ts >= p.ts - INTERVAL 10 MINUTES AND v.ts <= p.ts
    WHERE p.event_type = 'purchase' AND v.event_type = 'view'
    """,
)
def q49a_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch interval join: every (purchase, view-within-10-minutes)
    pair per user — the N-match generalization of the as-of join (q46
    keeps only the latest). Equi-join on user_id carries the shuffle;
    the time interval is a post-join range predicate, so cost is
    Σ per-user |P|×|V| only within the joined key, never global."""
    from ecowatt_etl_spark.streaming.events_stream import split_views_purchases

    ev = load_table(spark, sf_dir, "events")
    v, p = split_views_purchases(ev)
    return p.join(
        v,
        F.expr(
            "p_user = v_user AND v_ts >= p_ts - INTERVAL 10 MINUTES AND v_ts <= p_ts"
        ),
        "inner",
    ).select("purchase_id", F.col("p_user").alias("user_id"), "view_id")


@query("q49b_stream_stream_join", oracle="""
    SELECT p.event_id AS purchase_id, p.user_id, v.event_id AS view_id
    FROM events p JOIN events v
      ON v.user_id = p.user_id
     AND v.ts >= p.ts - INTERVAL 10 MINUTES AND v.ts <= p.ts
    WHERE p.event_type = 'purchase' AND v.event_type = 'view'
    """)
def q49b_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q49a executed as a watermarked stream-stream join (both sides
    readStream; join state bounded by the watermark + interval). The
    output is pure integer ids, so full replay is row-identical to the
    batch join and the stream-stream path carries q49a's EXACT oracle
    (it was rows-only out of caution, not necessity)."""
    from ecowatt_etl_spark.streaming.events_stream import (
        read_events_stream,
        run_to_completion,
        stream_stream_interval_join,
    )

    joined = stream_stream_interval_join(read_events_stream(spark, sf_dir))
    return run_to_completion(joined, "q49b_stream_stream_sink", output_mode="append")


# ---------------------------------------------------------------------------
# q49c — streaming exact dedup under a watermark (ingest-dedup pattern)
# ---------------------------------------------------------------------------
@query(
    "q49c_stream_dedup",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events
    FROM events
    GROUP BY event_type
    """,
)
def q49c_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time exact dedup as a streaming operator: a
    duplicate-injected replay of `events` (purchases doubled) runs
    through ``dropDuplicatesWithinWatermark(event_id)``; per-type counts
    of the deduped stream must equal plain counts over the original
    table — which is exactly the DuckDB oracle. Dedup state is bounded
    by the watermark horizon (see streaming/events_stream.py), so this
    is the 100 TB ingest pattern: shuffle on the dedup key once,
    constant state per in-horizon key, nothing retained forever.

    State store: RocksDB for THIS query (scoped, restored after —
    q277's pattern). Dedup state is keyed by EVENT id, the one
    streaming state in the repo that is corpus-cardinality rather
    than entity-cardinality (windows ∝ buckets, sessions ∝ users,
    GroupState ∝ sources): a bounded replay delivers the whole corpus
    before the watermark can evict anything, so the default
    HDFS-backed provider holds every in-flight key ON HEAP — measured
    fatal at 100× (12.5M keys; the r8 full-registry execution sweep's
    JVM died in the state-store maintenance thread after 243 s).
    RocksDB keeps the same exactly-once semantics with native-memory
    + spill-to-disk state, which is also the right provider for this
    operator on a real cluster where per-key heap is the first thing
    an ingest-dedup job exhausts."""
    from ecowatt_etl_spark.streaming.events_stream import (
        dedup_within_watermark,
        read_events_stream,
        run_to_completion,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    # conf.get(key) with no default returns the SQLConf DEFAULT string
    # for defined confs rather than raising, which would leave the
    # session explicitly pinned after restore; the two-arg form yields
    # None only when the conf was never user-set, so unset() below
    # genuinely restores the unset state (r8 ADVICE).
    old = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        deduped = dedup_within_watermark(read_events_stream(spark, sf_dir))
        rows = run_to_completion(
            deduped, "q49c_stream_dedup_sink", output_mode="append"
        )
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    return rows.groupBy("event_type").agg(F.count("*").alias("n_events"))


# ---------------------------------------------------------------------------
# q49d — gap-filled hourly rollup (dense time grid, hypertable-style)
# ---------------------------------------------------------------------------
@query(
    "q49d_gap_fill_rollup",
    oracle=f"""
    WITH bounds AS (
      SELECT time_bucket(INTERVAL '1 hour', MIN(ts)) AS lo,
             time_bucket(INTERVAL '1 hour', MAX(ts)) AS hi
      FROM events
    ),
    hours AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS bucket
      FROM bounds
    ),
    grid AS (
      SELECT hours.bucket, e.event_type
      FROM hours CROSS JOIN (SELECT DISTINCT event_type FROM events) e
    ),
    agg AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket, event_type,
             COUNT(*) AS n_events
      FROM events GROUP BY 1, 2
    )
    SELECT strftime(grid.bucket, '{_SQL_TS_FMT}') AS window_start,
           grid.event_type,
           COALESCE(agg.n_events, 0) AS n_events
    FROM grid LEFT JOIN agg
      ON agg.bucket = grid.bucket AND agg.event_type = grid.event_type
    """,
)
def q49d_gap_fill_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly rollup (the hypertable/'time_bucket_gapfill'
    shape): hours with no events for a type appear as explicit zero
    rows, which downstream interpolation, charting, and anomaly jobs
    need. The dense grid is built from a 1-row min/max aggregate
    cross-joined with the distinct-type dim and an exploded
    F.sequence — a 100 TB fact contributes one map-side-combined agg;
    the grid AND the sparse rollup are both O(hours × types), tiny
    forever, so the gap-fill join itself is broadcast (rollup side
    built, grid preserved)."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy(
        F.date_trunc("hour", "ts").alias("bucket"),
        "event_type",
    ).agg(F.count("*").alias("n_events"))
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("bucket")
    )
    types = ev.select("event_type").distinct()
    grid = hours.crossJoin(types)
    return (
        F.broadcast(agg).join(grid, ["bucket", "event_type"], "right")
        .select(
            F.date_format("bucket", _TS_FMT).alias("window_start"),
            "event_type",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# q49e — streaming rollup maintained in a parquet serving table
# ---------------------------------------------------------------------------
@query(
    "q49e_stream_serving_table",
    oracle=f"""
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '{_SQL_TS_FMT}') AS window_start,
           event_type,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
)
def q49e_stream_serving_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q40's hourly rollup maintained as a parquet SERVING TABLE by a
    foreachBatch streaming sink (complete-mode rewrite per
    micro-batch). After replay the table must equal the batch rollup
    over the same input — which is exactly the DuckDB oracle, giving
    the sink path an exact correctness gate. Counts only: the serving
    contract here is deterministic integers."""
    from ecowatt_etl_spark.operators.bucketing import bucket_token
    from ecowatt_etl_spark.sources.formats import SCRATCH_ROOT
    from ecowatt_etl_spark.streaming.events_stream import (
        read_events_stream,
        stream_rollup_to_parquet,
        tumbling_counts,
    )

    agg = tumbling_counts(read_events_stream(spark, sf_dir)).select(
        "window_start", "event_type", "n_events"
    )
    path = f"{SCRATCH_ROOT}/{bucket_token(sf_dir)}/serving_rollup"
    stream_rollup_to_parquet(agg, path, "q49e_serving_sink")
    return spark.read.parquet(path)


# ---------------------------------------------------------------------------
# q49f — ordered conversion funnel
# ---------------------------------------------------------------------------
@query(
    "q49f_funnel",
    oracle="""
    WITH w1 AS (
      SELECT user_id, ts, event_type,
             MIN(CASE WHEN event_type = 'signup' THEN ts END)
               OVER (PARTITION BY user_id) AS t1
      FROM events
    ), w2 AS (
      SELECT *, MIN(CASE WHEN event_type = 'view' AND ts >= t1 THEN ts END)
                  OVER (PARTITION BY user_id) AS t2
      FROM w1
    ), w3 AS (
      SELECT *, MIN(CASE WHEN event_type = 'click' AND ts >= t2 THEN ts END)
                  OVER (PARTITION BY user_id) AS t3
      FROM w2
    ), w4 AS (
      SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts >= t3 THEN ts END)
                  OVER (PARTITION BY user_id) AS t4
      FROM w3
    ), per_user AS (
      SELECT user_id, MAX(t1) AS t1, MAX(t2) AS t2,
             MAX(t3) AS t3, MAX(t4) AS t4
      FROM w4 GROUP BY user_id
    ), counts AS (
      SELECT CAST(COUNT(t1) AS BIGINT) AS c1, CAST(COUNT(t2) AS BIGINT) AS c2,
             CAST(COUNT(t3) AS BIGINT) AS c3, CAST(COUNT(t4) AS BIGINT) AS c4
      FROM per_user
    )
    SELECT stage_idx, stage, n_users FROM (
      SELECT 1 AS stage_idx, 'signup' AS stage, c1 AS n_users FROM counts
      UNION ALL SELECT 2, 'view', c2 FROM counts
      UNION ALL SELECT 3, 'click', c3 FROM counts
      UNION ALL SELECT 4, 'purchase', c4 FROM counts
    ) ORDER BY stage_idx
    """,
)
def q49f_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: signup -> view -> click -> purchase.

    A user reaches stage N only via an event at-or-after their stage
    N-1 timestamp (min-ts semantics, so re-entries don't double count).
    The classic implementation is N-1 self-joins; here each stage's
    first-reach time is a windowed conditional MIN over the same
    user_id partitioning, so the chain is ONE shuffle followed by four
    Window operators that all reuse the exchange — at 100 TB the cost
    is a single hash-partition of the events scan, not four joins.
    The per-user reduction then feeds a global 4-counter aggregate
    (two-phase, map-side partials), and the 4-row funnel is a literal
    unpivot of that single row.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    uw = W.partitionBy("user_id")
    staged = (
        ev.withColumn(
            "t1", F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(uw)
        )
        .withColumn(
            "t2",
            F.min(
                F.when(
                    (F.col("event_type") == "view") & (F.col("ts") >= F.col("t1")),
                    F.col("ts"),
                )
            ).over(uw),
        )
        .withColumn(
            "t3",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") >= F.col("t2")),
                    F.col("ts"),
                )
            ).over(uw),
        )
        .withColumn(
            "t4",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("ts") >= F.col("t3")),
                    F.col("ts"),
                )
            ).over(uw),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.max("t1").alias("t1"),
        F.max("t2").alias("t2"),
        F.max("t3").alias("t3"),
        F.max("t4").alias("t4"),
    )
    counts = per_user.agg(
        F.count("t1").alias("c1"),
        F.count("t2").alias("c2"),
        F.count("t3").alias("c3"),
        F.count("t4").alias("c4"),
    )
    return counts.select(
        F.expr(
            "stack(4, 1, 'signup', c1, 2, 'view', c2, 3, 'click', c3,"
            " 4, 'purchase', c4) AS (stage_idx, stage, n_users)"
        )
    ).orderBy("stage_idx")


# ---------------------------------------------------------------------------
# q49g — weekly cohort retention
# ---------------------------------------------------------------------------
@query(
    "q49g_cohort_retention",
    oracle="""
    WITH wk AS (
      SELECT DISTINCT user_id,
             date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS week_idx
      FROM events
    ), coh AS (
      SELECT user_id, week_idx,
             MIN(week_idx) OVER (PARTITION BY user_id) AS cohort_week
      FROM wk
    ), counts AS (
      SELECT cohort_week, week_idx - cohort_week AS week_offset,
             CAST(COUNT(*) AS BIGINT) AS n_users
      FROM coh GROUP BY 1, 2
    )
    SELECT CAST(cohort_week AS BIGINT) AS cohort_week,
           CAST(week_offset AS BIGINT) AS week_offset,
           n_users,
           CAST(n_users * 10000 // MAX(CASE WHEN week_offset = 0 THEN n_users END)
                  OVER (PARTITION BY cohort_week) AS BIGINT) AS retention_bps
    FROM counts
    ORDER BY cohort_week, week_offset
    """,
)
def q49g_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle.

    Week index is integer day-arithmetic from a fixed epoch
    (2024-01-01), NOT calendar week-of-year — engines disagree on ISO
    week boundaries but not on day subtraction. A user's cohort is
    their first active week; the (cohort, offset) cell counts users
    active offset weeks later. Retention is emitted in integer basis
    points (n * 10000 DIV cohort_size) so the oracle hash never sees a
    float division.

    Scale shape: ONE shuffle on user_id produces per-user
    (cohort_week, active-week set) — collect_set is bounded by corpus
    duration in weeks (~O(100) even at decade scale), so the per-user
    state can't blow up. The explode is scan-local and the final
    (cohort, offset) agg is a second small shuffle on a key space of
    weeks², independent of corpus size.
    """
    ev = load_table(spark, sf_dir, "events")
    weeks = ev.select(
        "user_id",
        F.floor(
            F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")) / 7
        ).alias("week_idx"),
    )
    per_user = weeks.groupBy("user_id").agg(
        F.min("week_idx").alias("cohort_week"),
        F.collect_set("week_idx").alias("active_weeks"),
    )
    cells = per_user.select(
        "cohort_week", F.explode("active_weeks").alias("active_week")
    ).select(
        "cohort_week", (F.col("active_week") - F.col("cohort_week")).alias("week_offset")
    )
    counts = cells.groupBy("cohort_week", "week_offset").agg(
        F.count("*").alias("n_users")
    )
    cw = W.partitionBy("cohort_week")
    return (
        counts.withColumn(
            "cohort_size",
            F.max(F.when(F.col("week_offset") == 0, F.col("n_users"))).over(cw),
        )
        .select(
            "cohort_week",
            "week_offset",
            "n_users",
            F.expr("CAST(n_users * 10000 DIV cohort_size AS BIGINT)").alias(
                "retention_bps"
            ),
        )
        .orderBy("cohort_week", "week_offset")
    )


# ---------------------------------------------------------------------------
# q49h — event-type transition matrix
# ---------------------------------------------------------------------------
@query(
    "q49h_event_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type,
             event_type AS curr_type
      FROM events
    ), pairs AS (
      SELECT prev_type, curr_type, CAST(COUNT(*) AS BIGINT) AS n_transitions
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT prev_type, curr_type, n_transitions,
           CAST(n_transitions * 10000
                  // SUM(n_transitions) OVER (PARTITION BY prev_type)
                AS BIGINT) AS row_share_bps
    FROM pairs
    ORDER BY prev_type, curr_type
    """,
)
def q49h_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences — the session-flow analytics behind "what do users do
    after X" dashboards and behavioral anomaly baselines.

    Per-user ordering is (ts, event_id) so concurrent events have a
    deterministic tiebreak in both engines. The corpus-sized work is
    ONE shuffle on user_id feeding a lag Window; the (prev, curr)
    aggregate and the row-normalization window then run on at most
    |event_types|^2 rows regardless of corpus size. Row shares are
    integer basis points (n * 10000 DIV row_total) — no float division
    in the oracle hash.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    seq_w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("prev_type", F.lag("event_type").over(seq_w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("curr_type"))
        .agg(F.count("*").alias("n_transitions"))
    )
    row_w = W.partitionBy("prev_type")
    return (
        pairs.withColumn("row_total", F.sum("n_transitions").over(row_w))
        .select(
            "prev_type",
            "curr_type",
            "n_transitions",
            F.expr("CAST(n_transitions * 10000 DIV row_total AS BIGINT)").alias(
                "row_share_bps"
            ),
        )
        .orderBy("prev_type", "curr_type")
    )


# ---------------------------------------------------------------------------
# q49i — stream-static enrichment join
# ---------------------------------------------------------------------------
@query(
    "q49i_stream_static_enrich",
    oracle="""
    WITH coh AS (
      SELECT user_id,
             MIN(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7)
               AS cohort_week
      FROM events GROUP BY user_id
    )
    SELECT CAST(coh.cohort_week AS BIGINT) AS cohort_week,
           e.event_type,
           COUNT(*) AS n_events
    FROM events e JOIN coh USING (user_id)
    GROUP BY 1, 2
    """,
)
def q49i_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC join: the event stream is enriched per micro-batch
    with a static user-cohort dimension (computed batch-side, broadcast
    — zero streaming state, unlike stream-stream joins), then
    aggregated per (cohort, type). After full replay the result equals
    the batch join — which is exactly the DuckDB oracle, so the
    stream-static path gets an exact value gate like q49c/q49e.
    Counts only: deterministic integers across engines.
    """
    from ecowatt_etl_spark.streaming.events_stream import (
        enrich_with_static,
        read_events_stream,
        run_to_completion,
    )

    ev_batch = load_table(spark, sf_dir, "events")
    dim = ev_batch.select(
        "user_id",
        F.floor(
            F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")) / 7
        ).alias("cohort_week"),
    ).groupBy("user_id").agg(F.min("cohort_week").alias("cohort_week"))

    stream = read_events_stream(spark, sf_dir)
    enriched = enrich_with_static(stream, dim, "user_id")
    agg = (
        enriched.withWatermark("ts", "10 minutes")
        .groupBy("cohort_week", "event_type")
        .agg(F.count("*").alias("n_events"))
    )
    return run_to_completion(agg, "q49i_enrich", output_mode="complete")


# ---------------------------------------------------------------------------
# q45b — sliding windows under Structured Streaming (exact replay oracle)
# ---------------------------------------------------------------------------
@query(
    "q45b_stream_sliding",
    oracle=f"""
    WITH assigned AS (
      SELECT time_bucket(INTERVAL '30 minutes', ts) AS ws FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'
      FROM events
    )
    SELECT strftime(ws, '{_SQL_TS_FMT}') AS window_start,
           COUNT(*) AS n_events
    FROM assigned GROUP BY 1
    """,
)
def q45b_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q41's sliding-window aggregation (1 h window / 30 min slide)
    executed as a Structured Streaming query with a watermark and
    replayed to completion — completing the batch↔stream operator
    matrix (tumbling q40↔q44, session q42↔q45, sliding q41↔here).
    Counts only, so full replay equals the batch result exactly and
    the path gets a value gate, not just a rows check. State per open
    window×slide pair, evicted past the watermark."""
    from ecowatt_etl_spark.streaming.events_stream import (
        read_events_stream,
        run_to_completion,
    )

    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format("w.start", _TS_FMT).alias("window_start"),
            "n_events",
        )
    )
    return run_to_completion(agg, "q45b_sliding", output_mode="complete")


# ---------------------------------------------------------------------------
# q49j — last-touch attribution
# ---------------------------------------------------------------------------
@query(
    "q49j_last_touch_attribution",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, ts, event_type, value,
             MAX(CASE WHEN event_type = 'click' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_click_ts
      FROM events
    )
    SELECT user_id,
           COUNT(*) AS n_purchases,
           CAST(SUM(CASE WHEN last_click_ts IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_attributed,
           {sql_exact_sum("CASE WHEN last_click_ts IS NOT NULL THEN value END",
                          "attributed_value")}
    FROM seq
    WHERE event_type = 'purchase'
    GROUP BY user_id
    """,
)
def q49j_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution — credit each purchase to the user's most
    recent preceding click (the marketing-analytics primitive behind
    channel ROI). The "most recent preceding" lookup is a running
    conditional MAX over the (ts, event_id)-ordered per-user stream —
    one shuffle on user_id, no self-join, no as-of join machinery —
    then a per-user rollup of attributed counts and exact-decimal
    attributed revenue. Same single-exchange scale shape as the funnel
    (q49f); deterministic tiebreak on event_id.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    seq = ev.withColumn(
        "last_click_ts",
        F.max(F.when(F.col("event_type") == "click", F.col("ts"))).over(w),
    )
    attributed = F.col("last_click_ts").isNotNull()
    return (
        seq.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_purchases"),
            F.sum(F.when(attributed, 1).otherwise(0)).cast("long").alias("n_attributed"),
            exact_sum(F.when(attributed, F.col("value")), "attributed_value"),
        )
    )


# ---------------------------------------------------------------------------
# q131 — per-user EWMA smoothing state
# ---------------------------------------------------------------------------
_EWMA_ALPHA = 0.3
_EWMA_WIN = 20  # trailing events folded into the state


@query(
    "q131_ewma_state",
    oracle=f"""
    WITH w AS (
      SELECT user_id, ts, event_id,
             list(CAST(value AS DOUBLE))
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS {_EWMA_WIN - 1} PRECEDING) AS vals,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE), vals),
                       (acc, x) -> acc * (1 - {_EWMA_ALPHA}) + {_EWMA_ALPHA} * x)
             AS ewma,
           CAST(len(vals) AS INTEGER) AS n_folded
    FROM w WHERE rn = 1
    """,
)
def q131_ewma_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average of the event
    value — the classic time-series smoother, materialized as SERVING
    STATE: one row per user holding the current EWMA over the trailing
    20 events. The recursion s = (1-α)s + αx is inherently
    order-dependent, which usually blocks cross-engine checking; here
    it is a fixed-order fold over the window-collected value array
    (frame order = (ts, event_id), both engines identical), so the
    result is bit-stable and the oracle matches exactly.

    Scale: one user-keyed window (single shuffle) collects the bounded
    trailing array; the fold is scan-local and O(window) per user; the
    rn=1 cut keeps only the latest state — WindowGroupLimit prunes the
    rest before the final projection. In streaming form the same state
    lives in applyInPandasWithState (q49's machinery) with the fold as
    the state update."""
    ev = load_table(spark, sf_dir, "events")
    wv = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_EWMA_WIN - 1), 0)
    )
    wr = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    folded = F.aggregate(
        F.col("vals"),
        F.lit(0.0),
        lambda acc, x: acc * (1 - _EWMA_ALPHA) + _EWMA_ALPHA * x,
    )
    return (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            F.collect_list(F.col("value").cast("double")).over(wv).alias("vals"),
        )
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            folded.alias("ewma"),
            F.size("vals").alias("n_folded"),
        )
    )


# ---------------------------------------------------------------------------
# q132 — windowed z-score anomalies (exact-decimal moments)
# ---------------------------------------------------------------------------
_Z_WIN = 50
_Z_T = 3.0


@query(
    "q132_windowed_zscore",
    oracle=f"""
    WITH w AS (
      SELECT user_id, ts, event_id, event_type,
             CAST(value AS DOUBLE) AS v,
             CAST(CAST(SUM(CAST(value AS DECIMAL(18,6)))
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS {_Z_WIN - 1} PRECEDING) AS VARCHAR) AS DOUBLE) AS s1,
             CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))
                           * CAST(value AS DECIMAL(18,6)))
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS {_Z_WIN - 1} PRECEDING) AS VARCHAR) AS DOUBLE) AS s2,
             COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS {_Z_WIN - 1} PRECEDING) AS n
      FROM events
    ),
    z AS (
      SELECT user_id, strftime(ts, '{_SQL_TS_FMT}') AS ts, event_id, event_type, v,
             (v - s1 / n) / sqrt(s2 / n - (s1 / n) * (s1 / n)) AS zscore
      FROM w WHERE n >= 10
    )
    SELECT user_id, ts, event_id, event_type, v AS value, zscore
    FROM z WHERE abs(zscore) > {_Z_T}
    """,
)
def q132_windowed_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed z-score anomaly detection: flag events whose value sits
    more than 3σ from the trailing-50 mean of the same
    user's stream — the standard online outlier rule for metrics and
    sensor feeds. Mean and variance come from windowed SUM and SUM-of-
    squares routed through exact decimal (window sums are otherwise
    float-order-dependent), then one double-division z per row; events
    with fewer than 10 trailing samples are unscored (cold start).

    Scale: one user-keyed window carries all three running aggregates
    in a single pass (same frame → one WindowExec); the anomaly filter
    is scan-local on the windowed output. No collect, no state outside
    the window frame."""
    ev = load_table(spark, sf_dir, "events")
    wf = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_Z_WIN - 1), 0)
    )
    v = F.col("value").cast("double")
    vd = F.col("value").cast("decimal(18,6)")
    base = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        v.alias("v"),
        F.sum(vd).over(wf).cast("double").alias("s1"),
        F.sum(vd * vd).over(wf).cast("double").alias("s2"),
        F.count("*").over(wf).alias("n"),
    ).filter(F.col("n") >= 10)
    mean = F.col("s1") / F.col("n")
    z = (F.col("v") - mean) / F.sqrt(F.col("s2") / F.col("n") - mean * mean)
    return (
        base.select(
            "user_id",
            F.date_format("ts", _TS_FMT).alias("ts"),
            "event_id",
            "event_type",
            F.col("v").alias("value"),
            z.alias("zscore"),
        )
        .filter(F.abs(F.col("zscore")) > _Z_T)
    )


# ---------------------------------------------------------------------------
# q133 — stateful streaming EWMA with an EXACT oracle
# ---------------------------------------------------------------------------
@query(
    "q133_stream_ewma",
    oracle=f"""
    SELECT user_id,
           list_reduce(
             list_prepend(CAST(0.0 AS DOUBLE),
                          list(CAST(value AS DOUBLE) ORDER BY ts, event_id)),
             (acc, x) -> acc * (1 - {_EWMA_ALPHA}) + {_EWMA_ALPHA} * x) AS ewma,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id
    """,
)
def q133_stream_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-history EWMA per user under Structured Streaming
    (applyInPandasWithState) — the stateful-streaming escape hatch
    carrying a VALUE-CHECKED exact oracle, which running floats in
    stream state normally can't have: the update function sorts each
    micro-batch by (ts, event_id) and folds sequentially from the
    carried state, so (per-key-ordered batches assumed — ordered
    replay here) the operation sequence is
    identical to one ordered fold over the whole stream, and the
    result doubles match DuckDB's list_reduce bit-for-bit. Complements
    q131 (the batch window form) and upgrades the GroupState path from
    rows-only to hash-checked evidence.

    Scale: state is two scalars per user; each micro-batch shuffles
    once on user_id into the state store; emitted rows are
    |users-touched-this-batch|. The sort is per (key, batch) — bounded
    by batch size, never history."""
    from ecowatt_etl_spark.streaming.events_stream import (
        read_events_stream,
        replay_state_partitions,
        run_to_completion,
        stateful_ewma,
    )

    agg = stateful_ewma(read_events_stream(spark, sf_dir), alpha=_EWMA_ALPHA)
    return run_to_completion(
        agg,
        "q133_stream_ewma_sink",
        output_mode="update",
        # scale-adaptive state sizing (r12): measured 73.7 -> 26.4 s at
        # the 100x replay, gate scale unchanged (see
        # replay_state_partitions / plans/r12/stream_ab.jsonl)
        shuffle_partitions=replay_state_partitions(spark, sf_dir),
    )


# ---------------------------------------------------------------------------
# q136 — VARIANT semi-structured payloads (Spark 4 binary JSON type)
# ---------------------------------------------------------------------------
@query(
    "q136_variant_props",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS DOUBLE) / COUNT(*) AS avg_k,
           CAST(0 AS BIGINT) AS n_missing,
           'OBJECT<k: BIGINT>' AS props_schema
    FROM events
    GROUP BY event_type
    """,
)
def q136_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payloads through the VARIANT type (Spark 4):
    `parse_json` decodes the JSON `props` column ONCE into Spark's
    binary variant encoding; `variant_get` then extracts typed fields
    from the decoded tree, `try_variant_get` returns NULL for absent
    paths instead of failing, and `schema_of_variant` reports the
    per-row inferred shape (constant here — every event carries
    `{"k": <int>}` — so MIN over it is deterministic and the oracle
    pins it as a literal).

    This is the engine's answer to "JSON at scale" beyond q47's
    per-path `get_json_object`: with N extracted fields, q47's shape
    re-parses the string N times while VARIANT parses once and N
    `variant_get` calls walk the binary encoding — the difference is
    a constant factor of N on the scan stage, which at 100 TB of
    event logs is the whole job. Same one hash-agg plan downstream;
    the DuckDB oracle expresses the identical semantics over the raw
    JSON text (DuckDB has no variant type — absent-path extraction is
    the literal 0 the try path is asserted against).
    """
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    # Two plan-shape decisions keep this a single-scan hash aggregate:
    # (1) extract typed fields BEFORE the aggregate — variant-typed
    # expressions among agg children force SortAggregate (variant is
    # not a mutable agg-buffer type); (2) reduce the schema string via
    # collect_set→array_min rather than MIN(string) — a declarative
    # MIN over a string buffer also demotes the whole aggregate to
    # SortAggregate (full partial sort of the scan), while collect_set
    # is a TypedImperativeAggregate and keeps it hash-based
    # (ObjectHashAggregate) with a set of |distinct schemas| per group.
    typed = ev.select(
        "event_type",
        F.variant_get(v, "$.k", "long").alias("k"),
        F.try_variant_get(v, "$.absent", "long").alias("missing"),
        F.schema_of_variant(v).alias("vschema"),
    )
    return typed.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("k").alias("sum_k"),
        F.try_divide(F.sum("k").cast("double"), F.count("*")).alias("avg_k"),
        F.count("missing").alias("n_missing"),
        F.array_min(F.collect_set("vschema")).alias("props_schema"),
    )


# ---------------------------------------------------------------------------
# q149 — streaming CDC upsert: latest-state table maintained by MERGE
# ---------------------------------------------------------------------------
@query(
    "q149_stream_cdc_upsert",
    oracle=f"""
    WITH ranked AS (
      SELECT user_id, event_id, ts, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rk
      FROM events
    )
    SELECT user_id, event_id, strftime(ts, '{_SQL_TS_FMT}') AS ts_str,
           event_type, value
    FROM ranked WHERE rk = 1
    """,
)
def q149_stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply: the event stream maintains a LATEST-STATE
    table (one row per user, their most recent event) through a
    foreachBatch sink that reduces each micro-batch to
    last-write-per-key and MERGEs it into the parquet table
    (sources/upsert.py) — the lakehouse change-data-capture pattern
    for stores with no native streaming connector. After replay the
    table must equal the batch last-write-wins query over the same
    input, which is exactly the DuckDB oracle — so batch reduction,
    matched-replace, and unmatched-insert are all value-checked from
    the files on disk. The MERGE runs with newer_than=(ts, event_id):
    a matched row is only displaced by a STRICTLY newer event, so the
    result is independent of micro-batch arrival order (file sources
    list multi-file replay dirs by modification time, not event time —
    an ordered-batch assumption would silently break there) and
    replaying a batch is idempotent. At scale the MERGE runs
    partition-pruned (partition_col on a key-derived bucket/date) so
    each batch rewrites only the partitions it touches."""
    import shutil

    from ecowatt_etl_spark.operators.bucketing import bucket_token
    from ecowatt_etl_spark.sources.formats import SCRATCH_ROOT
    from ecowatt_etl_spark.sources.upsert import merge_upsert
    from ecowatt_etl_spark.streaming.events_stream import read_events_stream

    root = f"{SCRATCH_ROOT}/{bucket_token(sf_dir)}/cdc_latest"
    shutil.rmtree(root, ignore_errors=True)
    shutil.rmtree(root + "_cp", ignore_errors=True)

    def apply_batch(batch_df: DataFrame, _batch_id: int) -> None:
        w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
        latest = (
            batch_df.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .drop("rk")
        )
        merge_upsert(
            batch_df.sparkSession,
            root,
            latest,
            keys=["user_id"],
            newer_than=["ts", "event_id"],
        )

    q = (
        read_events_stream(spark, sf_dir)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", root + "_cp")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(root).select(
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        "event_type",
        "value",
    )


# ---------------------------------------------------------------------------
# q162 — gap-fill with LINEAR INTERPOLATION (hypertable interpolate())
# ---------------------------------------------------------------------------
@query(
    "q162_interpolated_gapfill",
    oracle=f"""
    WITH bounds AS (
      SELECT time_bucket(INTERVAL '1 hour', MIN(ts)) AS lo,
             time_bucket(INTERVAL '1 hour', MAX(ts)) AS hi
      FROM events
    ),
    hours AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS bucket
      FROM bounds
    ),
    grid AS (
      SELECT hours.bucket, e.event_type
      FROM hours CROSS JOIN (SELECT DISTINCT event_type FROM events) e
    ),
    agg AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket, event_type,
             CAST(COUNT(*) AS BIGINT) AS n_obs,
             CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
               / COUNT(*) AS v
      FROM events GROUP BY 1, 2
    ),
    g AS (
      SELECT grid.bucket, grid.event_type, agg.n_obs, agg.v
      FROM grid LEFT JOIN agg
        ON agg.bucket = grid.bucket AND agg.event_type = grid.event_type
    ),
    ctx AS (
      SELECT bucket, event_type, n_obs, v,
             last_value(v IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY bucket
               ROWS UNBOUNDED PRECEDING) AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY bucket
                     ROWS UNBOUNDED PRECEDING) AS pb,
             first_value(v IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY bucket
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY bucket
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb
      FROM g
    )
    SELECT strftime(bucket, '{_SQL_TS_FMT}') AS window_start,
           event_type,
           COALESCE(n_obs, 0) AS n_obs,
           CASE WHEN v IS NOT NULL THEN v
                WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                  pv + (nv - pv) * ((epoch(bucket) - epoch(pb))
                                    / (epoch(nb) - epoch(pb)))
                ELSE NULL END AS value_interp
    FROM ctx
    """,
)
def q162_interpolated_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly mean-value series with LINEAR INTERPOLATION —
    the full hypertable `time_bucket_gapfill(...) + interpolate()`
    shape (q49d covers the zero-fill half): hours with no
    observations for a type get the value linearly interpolated
    between the nearest observed hours on either side; leading and
    trailing gaps (no anchor on one side) stay NULL, matching the
    standard interpolate() contract.

    Determinism: the hourly means route through exact decimal; the
    interpolation is one fixed arithmetic expression over those
    settled doubles and an exact integer epoch ratio — bit-identical
    cross-engine. Scale shape: the fact contributes one map-side-
    combined (bucket × type) aggregate; everything after runs on the
    dense grid (O(hours × types), tiny forever) — two window passes
    per type (forward last-observed, backward next-observed) over ONE
    event_type exchange, grid join broadcast exactly like q49d."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy(
        F.date_trunc("hour", "ts").alias("bucket"), "event_type"
    ).agg(
        F.count("*").alias("n_obs"),
        (
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count("*")
        ).alias("v"),
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("bucket")
    )
    grid = hours.crossJoin(ev.select("event_type").distinct())
    g = F.broadcast(agg).join(grid, ["bucket", "event_type"], "right")
    w_prev = (
        W.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_next = (
        W.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    obs_bucket = F.when(F.col("v").isNotNull(), F.col("bucket"))
    ctx = g.select(
        "bucket",
        "event_type",
        "n_obs",
        "v",
        F.last("v", ignorenulls=True).over(w_prev).alias("pv"),
        F.last(obs_bucket, ignorenulls=True).over(w_prev).alias("pb"),
        F.first("v", ignorenulls=True).over(w_next).alias("nv"),
        F.first(obs_bucket, ignorenulls=True).over(w_next).alias("nb"),
    )
    frac = (
        F.unix_timestamp("bucket") - F.unix_timestamp("pb")
    ) / (F.unix_timestamp("nb") - F.unix_timestamp("pb"))
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            F.col("pv") + (F.col("nv") - F.col("pv")) * frac,
        )
        .otherwise(F.lit(None).cast("double"))
    )
    return ctx.select(
        F.date_format("bucket", _TS_FMT).alias("window_start"),
        "event_type",
        F.coalesce("n_obs", F.lit(0)).alias("n_obs"),
        interp.alias("value_interp"),
    )


# ---------------------------------------------------------------------------
# q181 — linear multi-touch attribution (exact integer value splits)
# ---------------------------------------------------------------------------
_ATTR_WINDOW_US = 7 * 24 * 3600 * 1_000_000  # 7-day lookback


@query(
    "q181_linear_attribution",
    oracle=f"""
    WITH clicks AS (
      SELECT user_id, epoch_us(ts) AS c_us, event_id AS c_id,
             CAST(date_trunc('day', ts) AS DATE) AS c_day
      FROM events WHERE event_type = 'click'
    ),
    purch AS (
      SELECT user_id, epoch_us(ts) AS p_us, event_id AS p_id,
             CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v_us
      FROM events WHERE event_type = 'purchase'
    ),
    pairs AS (
      SELECT p.user_id, p.p_id, p.v_us, c.c_id, c.c_day,
             CAST(c.c_us AS HUGEINT) * 10000000 + c.c_id AS c_ord
      FROM purch p JOIN clicks c
        ON c.user_id = p.user_id
       AND (c.c_us < p.p_us OR (c.c_us = p.p_us AND c.c_id < p.p_id))
       AND c.c_us > p.p_us - {_ATTR_WINDOW_US}
    ),
    sized AS (
      SELECT *, COUNT(*) OVER (PARTITION BY p_id) AS n_touch,
             MIN(c_ord) OVER (PARTITION BY p_id) AS first_ord
      FROM pairs
    ),
    shares AS (
      SELECT c_day,
             v_us // n_touch
               + CASE WHEN c_ord = first_ord
                      THEN v_us - (v_us // n_touch) * n_touch
                      ELSE 0 END AS share_us
      FROM sized
    )
    SELECT c_day AS touch_day,
           CAST(COUNT(*) AS BIGINT) AS n_credited_touches,
           CAST(CAST(SUM(CAST(share_us AS HUGEINT)) AS VARCHAR) AS DOUBLE)
             / 1000000 AS attributed_value
    FROM shares GROUP BY c_day
    """,
)
def q181_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution — each purchase's value split
    EQUALLY across every click the user made in the 7 preceding days
    (q49j's last-touch sibling; linear is what growth teams use when
    no single touch deserves full credit). The split is exact integer
    arithmetic: each touch gets v_us div n, and the division
    remainder goes to the EARLIEST touch (deterministic, and the sum
    of shares reconstructs every purchase to the microunit — an
    auditor can reconcile attributed revenue against the ledger
    exactly, which float splits cannot promise).

    Scale: the purchase×click pairing is the bounded interval join
    (q49a's shape — equi-shuffle on user_id, time predicate inside
    the key group, pair count capped by the lookback window); the
    per-purchase size/min ride two windows over ONE p_id exchange;
    the final rollup is O(days)."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.unix_micros("ts").alias("c_us"),
        F.col("event_id").alias("c_id"),
        F.to_date(F.date_trunc("day", "ts")).alias("c_day"),
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_micros("ts").alias("p_us"),
        F.col("event_id").alias("p_id"),
        (F.col("value").cast("decimal(18,6)") * 1_000_000)
        .cast("bigint")
        .alias("v_us"),
    )
    pairs = purch.join(
        clicks,
        (purch["user_id"] == clicks["user_id"])
        & (
            (F.col("c_us") < F.col("p_us"))
            | ((F.col("c_us") == F.col("p_us")) & (F.col("c_id") < F.col("p_id")))
        )
        & (F.col("c_us") > F.col("p_us") - _ATTR_WINDOW_US),
    ).select(
        "p_id",
        "v_us",
        "c_id",
        "c_day",
        (
            F.col("c_us").cast("decimal(38,0)") * 10_000_000 + F.col("c_id")
        ).alias("c_ord"),
    )
    wp = W.partitionBy("p_id")
    sized = pairs.select(
        "*",
        F.count("*").over(wp).alias("n_touch"),
        F.min("c_ord").over(wp).alias("first_ord"),
    )
    share = F.expr(
        "v_us DIV n_touch + CASE WHEN c_ord = first_ord"
        " THEN v_us - (v_us DIV n_touch) * n_touch ELSE 0 END"
    )
    shares = sized.select("c_day", share.alias("share_us"))
    return shares.groupBy(F.col("c_day").alias("touch_day")).agg(
        F.count("*").alias("n_credited_touches"),
        (
            F.sum(F.col("share_us").cast("decimal(38,0)"))
            .cast("string")
            .cast("double")
            / 1_000_000
        ).alias("attributed_value"),
    )


# ---------------------------------------------------------------------------
# q182 — ratio-to-report: nation revenue share within its region
# ---------------------------------------------------------------------------
@query(
    "q182_ratio_to_report",
    oracle="""
    WITH rev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,6))
                      * CAST((1 - l_discount) AS DECIMAL(18,6))
                      * 1000000000000 AS HUGEINT)) AS v_pico
      FROM lineitem
      JOIN supplier s ON s.s_suppkey = l_suppkey
      JOIN nation n   ON n.n_nationkey = s.s_nationkey
      JOIN region r   ON r.r_regionkey = n.n_regionkey
      GROUP BY 1, 2
    )
    SELECT region, nation,
           CAST(CAST(v_pico AS VARCHAR) AS DOUBLE) / 1000000000000
             AS revenue,
           CAST(v_pico * 10000 // SUM(v_pico) OVER (PARTITION BY region)
                AS BIGINT) AS share_bp,
           CAST(ROW_NUMBER() OVER (PARTITION BY region
                                   ORDER BY v_pico DESC, nation) AS BIGINT)
             AS rank_in_region
    FROM rev
    """,
)
def q182_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's revenue as a share of its
    region's total, plus its rank within the region — the classic
    OLAP RATIO_TO_REPORT/share-of-parent shape every BI layer asks
    of a warehouse. Shares are integer basis points over EXACT
    picounit revenue sums (v·10⁴ // region_total — floor-divided
    rationals, never a float ratio), so the report hash-matches
    cross-engine; rank ties break on nation name.

    Scale: revenue reduces through ONE (region, nation) hash
    aggregate over the three-broadcast-dim star join (fact never
    shuffles for the join); the share window and rank run on the
    25-row aggregate. The share-of-parent pattern generalizes to any
    rollup level at O(groups) post-aggregate cost."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    v_pico = (
        F.col("l_extendedprice").cast("decimal(18,6)")
        * (F.lit(1) - F.col("l_discount")).cast("decimal(18,6)")
        * F.lit(1_000_000_000_000)
    ).cast("decimal(38,0)")
    rev = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum(v_pico).alias("v_pico"))
    )
    wr = W.partitionBy("region")
    return rev.select(
        "region",
        "nation",
        (
            F.col("v_pico").cast("string").cast("double") / 1_000_000_000_000
        ).alias("revenue"),
        F.expr(
            "CAST(v_pico * 10000 DIV SUM(v_pico) OVER (PARTITION BY region)"
            " AS BIGINT)"
        ).alias("share_bp"),
        F.row_number()
        .over(wr.orderBy(F.desc("v_pico"), "nation"))
        .cast("long")
        .alias("rank_in_region"),
    )


# ---------------------------------------------------------------------------
# q183 — clickstream path mining: top session event-type paths
# ---------------------------------------------------------------------------
_PATH_GAP_US = 300_000_000  # 5-minute session gap (q42/q43's constant)
_PATH_MAX_STEPS = 5
_PATH_TOP = 20


@query(
    "q183_top_paths",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS t_us,
             CAST(epoch_us(ts) AS HUGEINT) * 10000000 + event_id AS ord_key
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_type, ord_key,
             CASE WHEN lag(t_us) OVER w IS NULL
                    OR t_us - lag(t_us) OVER w >= {_PATH_GAP_US}
                  THEN 1 ELSE 0 END AS new_session
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ord_key)
    ),
    sess AS (
      SELECT user_id, event_type, ord_key,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ord_key
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    ),
    paths AS (
      SELECT user_id, session_id,
             array_to_string(
               list_slice(list(event_type ORDER BY ord_key),
                          1, {_PATH_MAX_STEPS}),
               '>') AS path,
             COUNT(*) AS n_events
      FROM sess GROUP BY user_id, session_id
    )
    SELECT path,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(n_events) AS BIGINT) AS n_events
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT {_PATH_TOP}
    """,
)
def q183_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream path mining: the top 20 session journeys,
    where a journey is the first 5 event types of a
    5-minute-gap session joined with '>' — the product-analytics
    report behind 'what do users actually do'. Sessionization is the
    q43 gaps-and-islands construction (lag + running sum over one
    user_id exchange); the per-session sequence is rebuilt
    DETERMINISTICALLY by sort_array over collected (ord_key, type)
    structs — never a bare collect_list, whose arrival order is
    engine- and partition-dependent.

    Scale: per-session state is bounded (≤ steps kept after slice);
    the path aggregate shuffles O(sessions) short strings; top-20 is
    TakeOrderedAndProject. The two windows and the session aggregate
    all ride the SAME user_id partitioning."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("t_us"),
        (
            F.unix_micros("ts").cast("decimal(38,0)") * 10_000_000
            + F.col("event_id")
        ).alias("ord_key"),
    )
    w = W.partitionBy("user_id").orderBy("ord_key")
    flagged = e.select(
        "user_id",
        "event_type",
        "ord_key",
        F.when(
            F.lag("t_us").over(w).isNull()
            | (F.col("t_us") - F.lag("t_us").over(w) >= _PATH_GAP_US),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    sess = flagged.select(
        "user_id",
        "event_type",
        "ord_key",
        F.sum("new_session")
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("session_id"),
    )
    ordered = F.transform(
        F.slice(
            F.sort_array(
                F.collect_list(F.struct(F.col("ord_key"), F.col("event_type")))
            ),
            1,
            _PATH_MAX_STEPS,
        ),
        lambda s: s["event_type"],
    )
    paths = sess.groupBy("user_id", "session_id").agg(
        F.concat_ws(">", ordered).alias("path"),
        F.count("*").alias("n_events"),
    )
    return (
        paths.groupBy("path")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").cast("long").alias("n_events"),
        )
        .orderBy(F.desc("n_sessions"), "path")
        .limit(_PATH_TOP)
    )


# ---------------------------------------------------------------------------
# q213 — polymorphic UDTF: output schema computed by analyze()
# ---------------------------------------------------------------------------
_DYN_KEYS = "k,missing"  # one present key, one absent → NULL column


@query(
    "q213_dynamic_udtf",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k') AS k,
           CAST(NULL AS VARCHAR) AS missing
    FROM events WHERE event_type = 'purchase'
    """,
)
def q213_dynamic_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYMORPHIC Python UDTF — the output schema is not declared but
    COMPUTED at analysis time by the UDTF's static ``analyze()`` hook
    from the literal key-list argument (Spark 4's dynamic-schema UDTF
    surface; q138 is the static-schema half). One column per requested
    JSON key materializes in the plan before execution starts, so the
    downstream query is fully resolved/prunable; a key absent from the
    payload ('missing' here) becomes a NULL column rather than a
    failure — the schema-on-read contract for ragged telemetry.

    The eval body is a plain json.loads projection so the DuckDB twin
    (json_extract_string per key) matches exactly. Scale: scan-local
    LATERAL generator, Arrow-batched row transfer; for FIXED key sets
    the codegen paths are q47 (get_json_object) and q136 (variant) —
    this query is the surface for key sets chosen at query-build time
    (per-tenant telemetry contracts), where the alternative is
    regenerating SQL text per tenant."""
    import json

    from pyspark.sql.functions import udtf
    from pyspark.sql.types import StringType, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class ExtractKeys:
        @staticmethod
        def analyze(
            props: AnalyzeArgument, keys: AnalyzeArgument
        ) -> AnalyzeResult:
            schema = StructType()
            for k in keys.value.split(","):
                schema = schema.add(k, StringType())
            return AnalyzeResult(schema=schema)

        def eval(self, props, keys):
            try:
                obj = json.loads(props) if props is not None else {}
            except ValueError:
                obj = {}
            # render through json.dumps, not str(): the extraction
            # contract is the JSON token text (true, 69), matching the
            # oracle's json_extract_string — str() would emit Python
            # spellings like 'True'
            yield tuple(
                None
                if obj.get(k) is None
                else (obj[k] if isinstance(obj[k], str) else json.dumps(obj[k]))
                for k in keys.split(",")
            )

    spark.udtf.register("extract_keys", udtf(ExtractKeys, useArrow=True))
    load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).createOrReplaceTempView("q213_events")
    return spark.sql(
        f"""
        SELECT e.event_id, t.*
        FROM q213_events e, LATERAL extract_keys(e.props, '{_DYN_KEYS}') t
        """
    )


# ---------------------------------------------------------------------------
# q228 — MAP-type higher-order-function surface (engagement profiles)
# ---------------------------------------------------------------------------
_MAP_MIN_EVENTS = 3  # keep only types a user hit at least this often


@query(
    "q228_map_profile",
    oracle=f"""
    WITH pc AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT user_id, SUM(n_events) AS total FROM pc GROUP BY 1)
    SELECT pc.user_id, pc.event_type, pc.n_events,
           CAST(pc.n_events * 10000 // tot.total AS BIGINT) AS share_bp
    FROM pc JOIN tot ON tot.user_id = pc.user_id
    WHERE pc.n_events >= {_MAP_MIN_EVENTS}
    """,
)
def q228_map_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP-type higher-order functions end to end — the one complex-
    type surface the engine had not yet exercised (arrays: q38/q79,
    structs: q37's argmax, variant: q136): each user's engagement
    profile is built as a event_type→count MAP (`map_from_entries`
    over a sort_array'd struct list for deterministic entry order),
    thresholded with `map_filter`, converted to basis-point shares
    with `transform_values`, stitched back to the raw counts with
    `map_zip_with`, and exploded to rows for the exact relational
    oracle. The same pipeline expressed without maps is the oracle's
    two-aggregate join — the map form is for pipelines that carry
    per-entity profiles as single VALUES through further transforms
    (feature stores, session state) instead of re-joining per step.

    All map transforms are scan-local codegen over an already-
    aggregated per-user frame; integer counts and DIV-based shares
    keep the result hash-exact. Scale: one (user, type) aggregate,
    one per-user rollup — the maps never exceed |event types| entries
    per user."""
    pc = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n_events"))
    )
    prof = pc.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(
                F.collect_list(F.struct("event_type", "n_events"))
            )
        ).alias("m"),
        F.sum("n_events").alias("total"),
    )
    kept = prof.select(
        "user_id",
        "total",
        F.map_filter(
            F.col("m"), lambda _, v: v >= _MAP_MIN_EVENTS
        ).alias("keep"),
    )
    zipped = kept.select(
        "user_id",
        "total",
        F.map_zip_with(
            F.col("keep"),
            # transform_values scales counts to the bp numerator; the
            # exact integer DIV by the per-user total runs post-explode
            # (lambda Columns can't host the DIV operator directly)
            F.transform_values(F.col("keep"), lambda _, v: v * 10_000),
            lambda _, cnt, num: F.struct(
                cnt.alias("n_events"), num.alias("bp_num")
            ),
        ).alias("z"),
    )
    return zipped.select(
        "user_id", "total", F.explode("z").alias("event_type", "s")
    ).select(
        "user_id",
        "event_type",
        F.col("s.n_events").alias("n_events"),
        F.expr("CAST(s.bp_num DIV total AS BIGINT)").alias("share_bp"),
    )


# ---------------------------------------------------------------------------
# q229 — watermark-delay tuning audit (late-data loss per candidate)
# ---------------------------------------------------------------------------
_WM_CANDIDATES_MIN = (1, 5, 15, 60)  # candidate watermark delays
_WM_MAX_JITTER_US = 30 * 60 * 1_000_000  # simulated network delay cap


@query(
    "q229_watermark_tuning",
    oracle=f"""
    WITH arr AS (
      SELECT ts, epoch_us(ts) AS ev_us,
             epoch_us(ts)
               + CAST(concat('0x', substring(md5('arr|' ||
                   CAST(event_id AS VARCHAR)), 1, 13)) AS BIGINT)
                 % {_WM_MAX_JITTER_US} AS arr_us
      FROM events
    ),
    wm AS (
      SELECT ev_us,
             MAX(ev_us) OVER (ORDER BY arr_us, ev_us
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_ev
      FROM arr
    ),
    g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_events FROM arr),
    d AS (
      SELECT u.delay_min, wm.ev_us, wm.max_ev
      FROM wm, UNNEST(ARRAY{list(_WM_CANDIDATES_MIN)}) AS u(delay_min)
    )
    SELECT CAST(delay_min AS BIGINT) AS delay_min,
           g.n_events,
           CAST(SUM(CASE WHEN max_ev - CAST(delay_min AS BIGINT) * 60000000 > ev_us
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN max_ev - CAST(delay_min AS BIGINT) * 60000000 > ev_us
                         THEN 1 ELSE 0 END) * 10000 // g.n_events AS BIGINT)
             AS dropped_bp
    FROM d, g
    GROUP BY 1, 2
    """,
)
def q229_watermark_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WATERMARK TUNING audit — the batch replay that answers "which
    watermark delay can this stream afford?" BEFORE the streaming
    job ships (q44/q45/q49 all take the delay as a given): replay the
    events in (simulated) ARRIVAL order and, for each candidate
    delay, count the events a `withWatermark(ts, delay)` stream
    would DROP — i.e. events whose event time is older than
    max(event time seen so far) − delay at their arrival moment.
    The resulting loss curve (delay → dropped basis points) is the
    watermark decision, quantified.

    Arrival times are event time + a deterministic md5 jitter
    (≤30 min) — clearly a SIMULATION here since the warehouse stores
    no ingest timestamps; a production lake records arrival_ts at
    ingest and this query runs unchanged with the synthetic column
    swapped out. Spark evaluates the running maxima with one ordered
    window over the arrival sequence (the q206 reduced-frame
    discipline does not apply — lateness is inherently a total-order
    property — so the documented scale form runs per PARTITION-day
    and stitches boundary maxima, the standard prefix-max split);
    the per-delay verdicts then ride a small explode × aggregate.
    All arithmetic is integer microseconds — hash-exact."""
    ev = load_table(spark, sf_dir, "events").select(
        F.unix_micros("ts").alias("ev_us"),
        (
            F.unix_micros("ts")
            + F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("arr|"), F.col("event_id").cast("string"))),
                    1,
                    13,
                ),
                16,
                10,
            ).cast("long")
            % _WM_MAX_JITTER_US
        ).alias("arr_us"),
    )
    w = W.orderBy("arr_us", "ev_us").rowsBetween(W.unboundedPreceding, -1)
    wm = ev.select(
        "ev_us",
        F.max("ev_us").over(w).alias("max_ev"),
    )
    g = ev.agg(F.count("*").alias("n_events"))
    d = wm.select(
        "ev_us",
        "max_ev",
        F.explode(
            F.array(*[F.lit(m).cast("long") for m in _WM_CANDIDATES_MIN])
        ).alias("delay_min"),
    )
    dropped = F.sum(
        F.when(
            F.col("max_ev") - F.col("delay_min") * 60_000_000 > F.col("ev_us"), 1
        ).otherwise(0)
    )
    return (
        d.crossJoin(F.broadcast(g))
        .groupBy(F.col("delay_min").cast("long").alias("delay_min"), "n_events")
        .agg(
            dropped.cast("long").alias("n_dropped"),
            F.expr(
                "CAST(SUM(CASE WHEN max_ev - CAST(delay_min AS BIGINT) * 60000000 > ev_us"
                " THEN 1 ELSE 0 END) * 10000 DIV n_events AS BIGINT)"
            ).alias("dropped_bp"),
        )
    )


# ---------------------------------------------------------------------------
# q240 — Kaplan–Meier time-to-event curve with right-censoring
# q242 — log-rank comparison of the same curves between arms
# ---------------------------------------------------------------------------
_KM_HI = 225.0  # "conversion": first event with value >= this (~p99 of draws)
_KM_EV_DATE = "CAST(ts AS DATE)"


def _km_flagged_sql(with_variant: bool) -> str:
    """Shared oracle CTEs for the survival pair: per-user duration to
    first high-value event with administrative censoring at the window
    end. q242 is only a valid comparison of q240's curves if this
    construction stays IDENTICAL — hence one definition."""
    vcol = "user_id % 2 AS variant," if with_variant else ""
    vsel = "variant," if with_variant else ""
    return f"""
    pu AS (
      SELECT user_id, {vcol}
             MIN({_KM_EV_DATE}) AS first_ev,
             MIN(CASE WHEN value >= {_KM_HI} THEN {_KM_EV_DATE} END)
               AS first_hi
      FROM events GROUP BY ALL
    ),
    rng AS (SELECT MAX({_KM_EV_DATE}) AS range_end FROM events),
    flagged AS (
      SELECT {vsel}
             date_diff('day', first_ev,
                       COALESCE(first_hi, rng.range_end)) AS t,
             CASE WHEN first_hi IS NULL THEN 1 ELSE 0 END AS cens
      FROM pu, rng
    )"""


def _km_flagged(
    spark: SparkSession, sf_dir: str, with_variant: bool
) -> DataFrame:
    """Spark twin of :func:`_km_flagged_sql` — the one place the
    censoring construction is defined."""
    ev = load_table(spark, sf_dir, "events")
    keys = ["user_id"] + (
        [(F.col("user_id") % 2).alias("variant")] if with_variant else []
    )
    pu = ev.groupBy(*keys).agg(
        F.min(F.to_date("ts")).alias("first_ev"),
        F.min(
            F.when(F.col("value") >= _KM_HI, F.to_date("ts"))
        ).alias("first_hi"),
    )
    rng = ev.agg(F.max(F.to_date("ts")).alias("range_end"))
    cols = (["variant"] if with_variant else []) + [
        F.datediff(
            F.coalesce(F.col("first_hi"), F.col("range_end")),
            F.col("first_ev"),
        ).alias("t"),
        F.when(F.col("first_hi").isNull(), 1).otherwise(0).alias("cens"),
    ]
    return pu.crossJoin(F.broadcast(rng)).select(*cols)


@query(
    "q240_kaplan_meier",
    oracle=f"""
    WITH {_km_flagged_sql(False)},
    g AS (
      SELECT t, CAST(SUM(1 - cens) AS BIGINT) AS d,
             CAST(SUM(cens) AS BIGINT) AS c
      FROM flagged GROUP BY t
    ),
    r AS (
      SELECT t, d, c,
             CAST((SELECT COUNT(*) FROM flagged)
                  - COALESCE(SUM(d + c) OVER (ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS nr
      FROM g
    ),
    arr AS (
      SELECT list({{'t': t, 'nr': nr, 'd': d, 'c': c}} ORDER BY t) AS a
      FROM r WHERE d >= 1
    )
    SELECT a[i].t AS duration_days,
           a[i].nr AS n_risk, a[i].d AS n_events, a[i].c AS n_censored,
           list_reduce(
             list_prepend(CAST(1.0 AS DOUBLE),
               list_transform(a[1:i],
                 x -> CAST(x.nr - x.d AS DOUBLE) / x.nr)),
             (p, q) -> p * q) AS survival
    FROM arr, UNNEST(generate_series(1, len(a))) AS u(i)
    """,
)
def q240_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAPLAN–MEIER time-to-event curve — proper SURVIVAL analysis
    for "days from a user's first activity to their first high-value
    event" (value ≥ 225, ~1% of draws, so roughly half the users
    never convert inside the window), with the thing naive
    time-to-conversion tables get wrong: RIGHT-CENSORING. A user with
    no conversion is censored at the window end — they exit the risk
    set at their observed exposure without counting as an event,
    exactly KM's product-limit construction S(t) = Π(1 − dᵢ/nᵢ).
    Complements q49f (did a funnel convert) with WHEN-calibrated
    conversion under truncated observation. The censoring
    construction is shared with q242 (one helper, one oracle
    fragment) so the estimator and its test can never diverge.

    Cross-engine determinism for the cumulative PRODUCT (the one
    aggregate that is neither sum nor rank): the tiny KM table is
    collected into ONE ordered array and each row's survival is an
    explicit left-fold over its prefix (Spark `aggregate(slice(...))`
    / DuckDB `list_reduce(list_prepend(...))`) — identical factor
    order, identical IEEE ops, so the floats hash-match without any
    log-space trick (ln is not IEEE-exact). Risk counts are exact
    integers via one reduced-frame cumulative window. Scale: one
    per-user aggregate over events; everything after is
    O(distinct durations) — the prefix-fold is quadratic only in
    that tiny count."""
    flagged = _km_flagged(spark, sf_dir, with_variant=False)
    g = flagged.groupBy("t").agg(
        F.sum(1 - F.col("cens")).alias("d"),
        F.sum("cens").alias("c"),
    )
    n_total = flagged.count()
    w = W.orderBy("t").rowsBetween(W.unboundedPreceding, -1)
    r = g.select(
        "t",
        "d",
        "c",
        (
            F.lit(n_total)
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w), F.lit(0))
        ).cast("long").alias("nr"),
    )
    arr = r.filter(F.col("d") >= 1).agg(
        F.sort_array(F.collect_list(F.struct("t", "nr", "d", "c"))).alias("a")
    )
    return (
        arr.select("a", F.posexplode("a").alias("pos", "x"))
        .select(
            F.col("x.t").alias("duration_days"),
            F.col("x.nr").alias("n_risk"),
            F.col("x.d").alias("n_events"),
            F.col("x.c").alias("n_censored"),
            F.expr(
                "aggregate(slice(a, 1, pos + 1), CAST(1.0 AS DOUBLE),"
                " (p, x) -> p * (CAST(x.nr - x.d AS DOUBLE) / x.nr))"
            ).alias("survival"),
        )
    )


@query(
    "q242_logrank",
    oracle=f"""
    WITH {_km_flagged_sql(True)},
    n_arm AS (
      SELECT CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n1,
             CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n0
      FROM flagged
    ),
    g AS (
      SELECT t,
             CAST(SUM(CASE WHEN variant = 1 AND cens = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS d1,
             CAST(SUM(CASE WHEN variant = 0 AND cens = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS d0,
             CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS x1,
             CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS x0
      FROM flagged GROUP BY t
    ),
    r AS (
      SELECT t, d1, d0, d1 + d0 AS d,
             n_arm.n1 - COALESCE(SUM(x1) OVER w, 0) AS nr1,
             n_arm.n1 + n_arm.n0
               - COALESCE(SUM(x1 + x0) OVER w, 0) AS nr
      FROM g, n_arm
      WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING)
    ),
    strata AS (
      SELECT t, d1,
             CAST(d * nr1 AS DOUBLE) / nr AS e1,
             CASE WHEN nr <= 1 THEN 0 ELSE
               (CAST(d * nr1 AS DOUBLE) / nr)
                 * (1 - CAST(nr1 AS DOUBLE) / nr)
                 * (CAST(nr - d AS DOUBLE) / (nr - 1))
             END AS vt
      FROM r WHERE d >= 1
    ),
    arr AS (
      SELECT list({{'t': t, 'd1': d1, 'e1': e1, 'vt': vt}} ORDER BY t) AS a
      FROM strata
    )
    SELECT n_arm.n1, n_arm.n0,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(a, x -> x.d1)), (p, q) -> p + q) AS BIGINT)
             AS observed_1,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(a, x -> x.e1)), (p, q) -> p + q) AS expected_1,
           (list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(a, x -> x.d1)), (p, q) -> p + q)
            - list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(a, x -> x.e1)), (p, q) -> p + q))
           / sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(a, x -> x.vt)), (p, q) -> p + q)) AS z_stat
    FROM arr, n_arm
    """,
)
def q242_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOG-RANK test — does time-to-conversion DIFFER between the two
    arms? The standard nonparametric comparison of q240's survival
    curves, censoring-aware where a naive mean-duration t-test is
    biased: at each event time, arm 1's observed events are compared
    to the expectation d·n₁/n under the null of identical hazards;
    z = (O−E)/√V with the hypergeometric variance per stratum.
    Completes the survival pair (q240 estimates, q242 compares) and
    gives the experimentation shelf its censored-outcome test. The
    per-user censoring construction is the SAME helper q240 uses —
    the pair cannot silently desynchronize.

    Determinism: per-stratum inputs are exact integers from one
    reduced-frame cumulative window; the O/E/V sums run as explicit
    ORDERED prefix-folds over one collected array (q240's discipline
    — aggregate SUM over doubles has nondeterministic order, a fold
    does not), and z's division/sqrt are IEEE-exact. Scale: one
    per-user aggregate over events; everything after is O(distinct
    event times)."""
    flagged = _km_flagged(spark, sf_dir, with_variant=True)
    n_arm = flagged.agg(
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).alias("n0"),
    )
    g = flagged.groupBy("t").agg(
        F.sum(
            F.when((F.col("variant") == 1) & (F.col("cens") == 0), 1).otherwise(0)
        ).alias("d1"),
        F.sum(
            F.when((F.col("variant") == 0) & (F.col("cens") == 0), 1).otherwise(0)
        ).alias("d0"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).alias("x1"),
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).alias("x0"),
    )
    w = W.orderBy("t").rowsBetween(W.unboundedPreceding, -1)
    r = g.crossJoin(F.broadcast(n_arm)).select(
        "t",
        "d1",
        (F.col("d1") + F.col("d0")).alias("d"),
        (F.col("n1") - F.coalesce(F.sum("x1").over(w), F.lit(0))).alias("nr1"),
        (
            F.col("n1")
            + F.col("n0")
            - F.coalesce(F.sum(F.col("x1") + F.col("x0")).over(w), F.lit(0))
        ).alias("nr"),
    )
    e1 = (F.col("d") * F.col("nr1")).cast("double") / F.col("nr")
    vt = F.when(F.col("nr") <= 1, F.lit(0.0)).otherwise(
        e1
        * (1 - F.col("nr1").cast("double") / F.col("nr"))
        * ((F.col("nr") - F.col("d")).cast("double") / (F.col("nr") - 1))
    )
    strata = r.filter(F.col("d") >= 1).select(
        "t", "d1", e1.alias("e1"), vt.alias("vt")
    )
    arr = strata.agg(
        F.sort_array(F.collect_list(F.struct("t", "d1", "e1", "vt"))).alias("a")
    )
    fold = lambda field, zero, typ: F.expr(  # noqa: E731
        f"aggregate(a, CAST({zero} AS {typ}), (p, x) -> p + x.{field})"
    )
    return arr.crossJoin(F.broadcast(n_arm)).select(
        "n1",
        "n0",
        fold("d1", 0, "BIGINT").alias("observed_1"),
        fold("e1", 0.0, "DOUBLE").alias("expected_1"),
        (
            (fold("d1", 0, "BIGINT") - fold("e1", 0.0, "DOUBLE"))
            / F.sqrt(fold("vt", 0.0, "DOUBLE"))
        ).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# q250 — streaming lateness audit: per-batch input + dropped-group counts
# ---------------------------------------------------------------------------
@query(
    "q250_stream_late_audit",
    oracle="""
    WITH odd AS (
      SELECT ts, event_type,
             ROW_NUMBER() OVER (ORDER BY ts DESC, event_id) AS rn
      FROM events WHERE event_id % 2 = 1
    ),
    wm AS (
      -- the drop filter for batch N uses the watermark derived from
      -- data through batch N-2 (measured: SCALE.md round-5 lag
      -- probes — one MORE trigger of lag than the progress-displayed
      -- value, which is through N-1), so batch 2's filter watermark
      -- comes from batch 0 alone: max EVEN-row event time - 10 min
      SELECT MAX(ts) - INTERVAL 10 MINUTE AS w
      FROM events WHERE event_id % 2 = 0
    )
    SELECT CAST(0 AS BIGINT) AS batch,
           CAST((SELECT COUNT(*) FROM events WHERE event_id % 2 = 0)
                AS BIGINT) AS n_input,
           CAST(0 AS BIGINT) AS dropped_groups
    UNION ALL
    SELECT 1, (SELECT COUNT(*) FROM odd WHERE rn <= 50), 0
    UNION ALL
    SELECT 2, (SELECT COUNT(*) FROM odd WHERE rn > 50),
           (SELECT COUNT(*) FROM (
              SELECT DISTINCT date_trunc('hour', o.ts), o.event_type
              FROM odd o CROSS JOIN wm
              WHERE o.rn > 50
                AND date_trunc('hour', o.ts) + INTERVAL 1 HOUR <= wm.w))
    """,
)
def q250_stream_late_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming LATENESS audit under the driver's value gate: replay
    the events stream in three deterministic chunks (even ids seed
    state and the watermark; the 50 newest odd rows trigger eviction
    of every closed window; the remaining odd rows arrive behind the
    evicted windows) and report, per micro-batch, the input rows and
    the watermark-dropped count from StreamingQueryProgress. The
    oracle derives all three rows RELATIONALLY from the replay
    definition and the MEASURED drop semantics of this build
    (tests/test_streaming.py::test_late_data_drop_accounting plus the
    round-5 controlled lag probes, SCALE.md): the counter ticks per
    dropped partial-aggregate GROUP (map-side combine first, not per
    raw row), the drop predicate is a pure watermark comparison on
    the window end (state presence is irrelevant — a never-seeded
    group behind the watermark still counts), and the filter
    watermark for batch N derives from event times through batch
    N-2 — one MORE trigger of lag than the progress-displayed value.
    Hence batch 1 drops exactly 0 on ANY distribution (its filter
    watermark is still epoch) and batch 2's oracle watermark is the
    EVEN-row max minus the delay, not the global max. A hash match
    here is cross-engine evidence that the runtime's late-data
    enforcement is exactly the documented predicate, not folklore.

    Scale: the replay writes three bounded chunk files to scratch;
    the streaming aggregation itself is q44's shape (one user-free
    (window, type) state exchange per batch). The audit output is
    O(batches)."""
    import glob as globmod
    import os
    import shutil

    from ecowatt_etl_spark.operators.bucketing import bucket_token
    from ecowatt_etl_spark.sources.formats import SCRATCH_ROOT
    from ecowatt_etl_spark.streaming.events_stream import (
        read_events_stream,
        run_to_completion,
        tumbling_counts,
    )

    ev = load_table(spark, sf_dir, "events")
    odd = ev.filter(F.col("event_id") % 2 == 1).withColumn(
        "_rk",
        F.row_number().over(
            W.partitionBy(F.lit(1)).orderBy(F.desc("ts"), F.asc("event_id"))
        ),
    )
    chunks = [
        ev.filter(F.col("event_id") % 2 == 0),
        odd.filter(F.col("_rk") <= 50).drop("_rk"),
        odd.filter(F.col("_rk") > 50).drop("_rk"),
    ]
    root = f"{SCRATCH_ROOT}/{bucket_token(sf_dir)}/late_replay"
    in_dir = f"{root}/in"
    shutil.rmtree(in_dir, ignore_errors=True)
    os.makedirs(in_dir)
    for i, df in enumerate(chunks):
        stage = f"{root}/s{i}"
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        dst = f"{in_dir}/events-{i}.parquet"
        shutil.copy(globmod.glob(stage + "/part-*.parquet")[0], dst)
        # FileStreamSource replays in modification-time order
        os.utime(dst, (1_000_000_000 + 100 * i, 1_000_000_000 + 100 * i))

    agg = tumbling_counts(
        read_events_stream(
            spark, in_dir, glob="events-*.parquet", max_files_per_trigger=1
        )
    )
    _, progresses = run_to_completion(
        agg, "q250_late_audit_sink", collect_progress=True
    )

    # batches 0..2 map 1:1 to the three replay files under
    # maxFilesPerTrigger=1 (an empty chunk still yields its batch row,
    # matching the oracle); later watermark-advance batches carry no
    # file and are not part of the audit
    rows = [
        (
            int(p["batchId"]),
            int(p["numInputRows"]),
            int(
                sum(
                    op.get("numRowsDroppedByWatermark", 0)
                    for op in p["stateOperators"]
                )
            ),
        )
        for p in sorted(progresses, key=lambda p: p["batchId"])
        if p["batchId"] <= 2
    ]
    return spark.createDataFrame(
        rows, "batch long, n_input long, dropped_groups long"
    )


# ---------------------------------------------------------------------------
# q251 — clamped running balance (non-associative per-key scan)
# ---------------------------------------------------------------------------
from ecowatt_etl_spark.queries.timeseries_queries import (  # noqa: E402
    _V_US_SQL,
    _v_us,
)

_BAL_CAP_US = 500_000_000  # $500 ceiling; floor is 0

# Shared by the batch (q251) and streaming (q252) forms — the clamped
# fold is integer-exact, so both implementations must land on the SAME
# final state row per user.
_CLAMP_ORACLE = f"""
    WITH d AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'purchase' THEN {_V_US_SQL}
                  ELSE -{_V_US_SQL} END AS delta_us
      FROM events WHERE event_type IN ('purchase', 'error')
    ),
    s AS (
      SELECT user_id,
             list(delta_us ORDER BY ts, event_id) AS ds
      FROM d GROUP BY user_id
    ),
    folded AS (
      SELECT user_id, len(ds) AS n_moves,
             list_reduce(
               list_prepend([CAST(0 AS BIGINT), CAST(0 AS BIGINT),
                             CAST(0 AS BIGINT)],
                            list_transform(ds, x -> [x, CAST(0 AS BIGINT),
                                                     CAST(0 AS BIGINT)])),
               (acc, e) -> [
                 LEAST(GREATEST(acc[1] + e[1], 0), {_BAL_CAP_US}),
                 acc[2] + CASE WHEN acc[1] + e[1] > {_BAL_CAP_US}
                               THEN 1 ELSE 0 END,
                 acc[3] + CASE WHEN acc[1] + e[1] < 0 THEN 1 ELSE 0 END
               ]) AS st
      FROM s
    )
    SELECT user_id, CAST(n_moves AS BIGINT) AS n_moves,
           st[1] AS balance_us, st[2] AS n_capped, st[3] AS n_floored
    FROM folded
    """


@query("q251_clamped_balance", oracle=_CLAMP_ORACLE)
def q251_clamped_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clamped running balance per user — purchases credit, errors
    debit, and the balance saturates at [0, $500]: the classic
    NON-ASSOCIATIVE scan (ledgers with overdraft floors, inventory
    with capacity ceilings, rate-limiter token buckets) that windowed
    SUM cannot express, because clamping destroys the prefix-sum
    decomposition. The engine's answer is the bounded per-key fold:
    ONE hash aggregate collects each user's move list in (ts,
    event_id) order, and a scan-local integer fold replays it,
    counting every cap/floor saturation on the way. All arithmetic is
    int64 micro-units — no floats anywhere — so the oracle matches
    bit-for-bit by construction.

    Scale: one exchange (user_id), state bounded per key; the fold
    never leaves the executor. The live form is the same fold as the
    applyInPandasWithState update function (q49/q133 machinery) with
    (balance, counters) as the carried state; per-key sequential,
    across-keys parallel — exactly how a distributed engine legally
    runs a non-associative recurrence."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.filter(F.col("event_type").isin("purchase", "error")).select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", _v_us())
        .otherwise(-_v_us())
        .alias("delta_us"),
    )
    s = d.groupBy("user_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts", "event_id", "delta_us"))),
            lambda r: r["delta_us"],
        ).alias("ds")
    )
    zero = F.lit(0).cast("long")
    init = F.array(zero, zero, zero)

    def _step(acc: F.Column, x: F.Column) -> F.Column:
        bal, cap, flo = (F.element_at(acc, i) for i in (1, 2, 3))
        moved = bal + x
        return F.array(
            F.least(F.greatest(moved, F.lit(0).cast("long")), F.lit(_BAL_CAP_US)),
            cap + F.when(moved > _BAL_CAP_US, 1).otherwise(0),
            flo + F.when(moved < 0, 1).otherwise(0),
        )

    st = F.aggregate(F.col("ds"), init, _step)
    return s.select(
        "user_id",
        F.size("ds").cast("long").alias("n_moves"),
        F.element_at(st, 1).alias("balance_us"),
        F.element_at(st, 2).alias("n_capped"),
        F.element_at(st, 3).alias("n_floored"),
    )


@query("q252_stream_clamped_balance", oracle=_CLAMP_ORACLE)
def q252_stream_clamped_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q251's saturating ledger under Structured Streaming: the same
    integer fold carried as GroupState (applyInPandasWithState), under
    the SAME exact oracle — proving the batch and live forms of the
    non-associative scan land on identical final state, the contract a
    lambda-architecture migration needs before trusting the streaming
    path. See streaming/events_stream.py::stateful_clamped_balance
    for why batch splits cannot change the result.

    Scale: state is four int64 scalars per user; each micro-batch
    shuffles once on user_id into the state store; the per-batch sort
    is bounded by batch size, never history."""
    from ecowatt_etl_spark.streaming.events_stream import (
        read_events_stream,
        replay_state_partitions,
        run_to_completion,
        stateful_clamped_balance,
    )

    out = stateful_clamped_balance(read_events_stream(spark, sf_dir))
    return run_to_completion(
        out,
        "q252_clamped_sink",
        output_mode="update",
        # scale-adaptive state sizing (r12): measured 70.9 -> 22.9 s at
        # the 100x replay, gate scale unchanged (see
        # replay_state_partitions / plans/r12/stream_ab.jsonl)
        shuffle_partitions=replay_state_partitions(spark, sf_dir),
    )


# ---------------------------------------------------------------------------
# q253 — rolling active users (DAU / trailing-7-day WAU / stickiness)
# ---------------------------------------------------------------------------
@query(
    "q253_rolling_active_users",
    oracle="""
    WITH activity AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    grid AS (SELECT DISTINCT day FROM activity)
    SELECT g.day,
           CAST(COUNT(DISTINCT CASE WHEN a.day = g.day
                                    THEN a.user_id END) AS BIGINT) AS dau,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS wau,
           COUNT(DISTINCT CASE WHEN a.day = g.day THEN a.user_id END)
             * 10000 // COUNT(DISTINCT a.user_id) AS sticky_bp
    FROM grid g
    JOIN activity a ON a.day BETWEEN g.day - 6 AND g.day
    GROUP BY g.day
    """,
)
def q253_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling engagement rollup — per day: DAU, trailing-7-day WAU,
    and the DAU/WAU stickiness ratio in basis points. Distinct counts
    over SLIDING windows don't decompose (a user active on 3 of the 7
    days must count once), so the exact form EXPLODES each (user, day)
    activity row onto the exactly-7 grid days it supports
    (sequence(day, day+6)) and runs one distinct-aggregate per day —
    both distincts (DAU and WAU) ride a single Expand-based
    aggregation, and generated days with no same-day activity are
    dropped post-agg (dau >= 1 == membership in the active-day grid).
    A range join against the grid would compile to a nested loop over
    activity x all-days — superlinear as the calendar grows — which
    is why the fan-out is GENERATED, not matched.

    Scale: activity is the deduped (user, day) frame — already
    orders-of-magnitude smaller than events — and the fan-out is
    bounded by the window width (x7) by construction.
    At 100 TB the same report typically runs on q224's machinery
    instead: one HLL sketch per day, rolling union over 7 — this
    exact form is its audit, the same exact-vs-sketch pairing as
    q163/q161."""
    ev = load_table(spark, sf_dir, "events")
    activity = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    # each activity row supports exactly the 7 grid days [day, day+6]:
    # generate them and EQUI-join-by-aggregation — a x7 explode plus one
    # hash aggregate, never a nested-loop pairing against the full grid
    fan = activity.select(
        "user_id",
        "day",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("g_day"),
    )
    return (
        fan.groupBy(F.col("g_day").alias("day"))
        .agg(
            F.countDistinct(
                F.when(F.col("day") == F.col("g_day"), F.col("user_id"))
            )
            .cast("long")
            .alias("dau"),
            F.countDistinct("user_id").cast("long").alias("wau"),
        )
        # generated days with no same-day activity are not grid days
        # (the oracle's grid is the distinct ACTIVE days): dau >= 1
        .filter(F.col("dau") >= 1)
        .select(
            "day",
            "dau",
            "wau",
            F.expr("dau * 10000 DIV wau").alias("sticky_bp"),
        )
    )
