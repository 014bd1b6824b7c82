"""Structured Streaming variants of the event-time queries.

The batch builders in queries/event_queries.py use F.window /
F.session_window — the SAME operators run here under readStream with a
watermark; only the source/sink differ. That is the engine's streaming
story: write the aggregation once, run it batch or streaming.

Local smoke path: the parquet file source replays the events table as
a stream; a memory sink + processAllAvailable() drives the query to
completion synchronously (no real broker in this environment — on a
cluster the source line becomes format('kafka') and nothing else
changes).
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ecowatt_etl_spark.sources.tables import inferred_schema, pin_timestamp_confs


def _events_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType(), True),
            T.StructField("ts", ts_type, True),
            T.StructField("user_id", T.LongType(), True),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
            T.StructField("props", T.StringType(), True),
        ]
    )


# kept for import compatibility / docs: the nanos-as-long shape
EVENTS_SCHEMA = _events_schema(T.LongType())

# job tag of each running registry plan build -> whether a stream was
# started under it (queries/registry.py keeps such a build unstored)
BUILD_TAGS: dict[str, bool] = {}


def start_untagged(writer: DataStreamWriter) -> StreamingQuery:
    """``writer.start()`` with the calling thread's Spark job tags
    cleared, and restored once the query has started.

    A stream started under a job tag posts a ``QueryStartedEvent``
    carrying that tag, and PySpark 4.1's ``QueryStartedEvent.fromJObject``
    calls ``toString()`` on tags py4j already turned into ``str``: every
    Python listener then loses ``onQueryStarted``. The stream's jobs
    therefore carry none of the caller's tags; a registry build that is
    running under one learns of the stream through ``BUILD_TAGS``."""
    sc = SparkContext.getOrCreate()
    tags = sc.getJobTags()
    for tag in tags:
        if tag in BUILD_TAGS:
            BUILD_TAGS[tag] = True
    sc.clearJobTags()
    try:
        return writer.start()
    finally:
        for tag in tags:
            sc.addJobTag(tag)


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over the events table, normalized to a
    TIMESTAMP(micros) ``ts`` exactly like the batch scan wrapper
    (sources/tables.py): nanos-as-long is truncated, TIMESTAMP_NTZ is
    cast under the UTC session zone, TIMESTAMP passes through. The
    physical shape is sniffed per file footer (streaming sources need
    an explicit schema), and ONE normalization branch is applied
    stream-wide — so all files matching the glob must agree on the
    ts shape, which is asserted up front: a replay dir mixing shapes
    (one nanos-long chunk plus one micros chunk) would otherwise be
    silently mis-normalized mid-stream. ``glob`` widens the file
    filter for multi-file replay dirs (checkpoint-recovery test feeds
    ``events-*.parquet`` chunks arriving over time)."""
    import fnmatch
    import os

    import pyarrow.parquet as pq

    pin_timestamp_confs(spark)
    # driver-side footer check over the bounded replay file list (at
    # scale: a metastore/schema-registry lookup instead)
    files = sorted(
        os.path.join(sf_dir, n)
        for n in os.listdir(sf_dir)
        if fnmatch.fnmatch(n, glob)
    )
    shapes = {str(pq.read_schema(f).field("ts").type) for f in files}
    if len(shapes) > 1:
        raise ValueError(
            f"mixed ts physical shapes across replay files in {sf_dir}: "
            f"{sorted(shapes)} — normalize the producer or split the replay; "
            "one stream-wide normalization branch cannot serve both"
        )
    ts_type = inferred_schema(spark, sf_dir, glob)["ts"].dataType
    reader = spark.readStream.schema(_events_schema(ts_type)).option(
        "pathGlobFilter", glob
    )
    if max_files_per_trigger is not None:
        # one replay chunk per micro-batch: lets tests (and ordered
        # replays) advance the watermark between chunks the way a live
        # source would between triggers
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.parquet(sf_dir)
    if isinstance(ts_type, T.LongType):
        return raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if isinstance(ts_type, T.TimestampNTZType):
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def replay_state_partitions(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "events.parquet",
    per_partition_bytes: int = 4 << 20,
) -> int:
    """Scale-adaptive state-store partition count for a bounded replay
    (r12, verdict item 7): ceil(replay bytes / 4 MB) clamped to
    [8, defaultParallelism].

    The applyInPandasWithState streams (q49/q133/q252) pay a per-key
    Python state-server round that parallelizes per STATE PARTITION,
    so a constant partition count is wrong at one end or the other:
    measured interleaved at the 100x replay (164 MB, 150k keys,
    32 cores) 8 partitions → 32 gives q133 73.7 → 26.4 s and q252
    70.9 → 22.9 s (OPTIMIZATION_r12.md, plans/r12/stream_ab.jsonl),
    while at gate scale (2 MB) the r11 invariant note measured
    default-8 WINNING — extra partitions are pure per-micro-batch
    overhead on tiny batches.
    4 MB/partition puts the crossover between those two measured
    points (gate stays at the floor of 8; 100x saturates to the core
    count). Values are partition-count-invariant by construction —
    per-key state, batch-split-independent folds (the q277 argument)
    — so this is purely a capacity sizing; a real deployment fixes it
    at first checkpoint from expected key cardinality."""
    import fnmatch

    total = sum(
        os.path.getsize(os.path.join(sf_dir, n))
        for n in os.listdir(sf_dir)
        if fnmatch.fnmatch(n, glob)
    )
    par = spark.sparkContext.defaultParallelism
    return max(8, min(par, -(-total // per_partition_bytes)))


def tumbling_counts(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """1-hour tumbling windows per event type with late-data handling:
    the watermark bounds state — windows older than max(event time) −
    10 min are finalized, EMITTED (append mode), and evicted.

    Late-data semantics, pinned by test_late_data_drop_accounting and
    verified against this Spark build (subtler than 'late rows are
    dropped'): (1) the watermark LAGS one trigger — eviction at the
    end of each micro-batch uses the watermark derived from PRIOR
    batches, so a late row whose window has not yet been evicted
    merges silently into pending state and ships in that window's one
    emission; (2) once a window has been finalized, late rows for it
    are dropped before touching state and ARE counted in
    numRowsDroppedByWatermark — but the counter ticks per dropped
    partial-aggregate GROUP (map-side combine runs first), not per
    raw input row; (3) each closed window is emitted exactly once in
    append mode. Alerting that treats the metric as a row count will
    under-report lateness by the per-group duplication factor."""
    from ecowatt_etl_spark.functions.exact import exact_sum

    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), exact_sum("value", "sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_aggregates(events: DataFrame, gap: str = "5 minutes") -> DataFrame:
    """Gap-based session windows per user under a watermark — state is
    one open session per (user, gap) merged as events arrive."""
    from ecowatt_etl_spark.functions.exact import exact_sum

    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), exact_sum("value", "sum_value"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


from pyspark.sql.streaming.listener import StreamingQueryListener


class _ProgressLog(StreamingQueryListener):
    """StreamingQueryListener that logs EVERY progress event as
    ``(query_id, progress_dict)`` — an uncapped, ordered record,
    unlike ``query.recentProgress`` which silently drops all but the
    last ``spark.sql.streaming.numRecentProgressUpdates`` (default
    100) entries. The dicts come from ``progress.json`` so they are
    key-identical to recentProgress entries (batchId, numInputRows,
    stateOperators, ...). ``wait_terminated`` blocks until the
    query's termination event is delivered; the listener bus is
    ordered, so at that point every progress event for the query has
    been appended."""

    def __init__(self) -> None:
        import threading

        self.progress: list[tuple[str, dict]] = []
        self._terminated: set[str] = set()
        self._cv = threading.Condition()

    def onQueryStarted(self, event) -> None:  # noqa: N802 — Spark API
        pass  # mandatory abstract override; nothing to record at start

    def onQueryProgress(self, event) -> None:  # noqa: N802
        import json

        p = event.progress
        self.progress.append((str(p.id), json.loads(p.json)))

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass  # idle ticks carry no progress; the tripwires count
        # batches from onQueryProgress, which the bus delivers fully

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        with self._cv:
            self._terminated.add(str(event.id))
            self._cv.notify_all()

    def wait_terminated(self, query_id: str, timeout: float = 60.0) -> bool:
        with self._cv:
            return self._cv.wait_for(
                lambda: query_id in self._terminated, timeout
            )


def run_to_completion(
    agg: DataFrame,
    name: str,
    output_mode: str = "append",
    shuffle_partitions: int = 8,
    collect_progress: bool = False,
):
    """Drive a streaming aggregation over a bounded file source to
    completion via a memory sink; returns the materialized result as a
    batch DataFrame (or ``(df, progresses)`` with
    ``collect_progress=True`` — q250's lateness audit reads the
    per-batch metrics; the list is listener-collected, so it is
    complete even past the 100-entry recentProgress cap). Smoke-test
    harness for the streaming path.

    Streaming stages don't get AQE partition coalescing, so a session
    default of 200 shuffle partitions means 200 state-store tasks per
    micro-batch over tiny local data — the override (scoped; restored
    after the run) cuts replay wall-clock ~5×. On a real cluster the
    state-store partition count is a capacity decision fixed at first
    checkpoint, sized to peak key cardinality, not to the default."""
    spark = agg.sparkSession
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    progresses: list = []
    # Progress arrives via a StreamingQueryListener, NOT the
    # recentProgress buffer: that buffer keeps only the last
    # spark.sql.streaming.numRecentProgressUpdates (default 100)
    # entries, so a replay resolving to >100 micro-batches would age
    # out early data-carrying batches — the update-mode tripwire
    # below would pass on a table that DOES mix stale per-key
    # intermediates, and q250's lateness audit would silently lose
    # batches (r5 ADVICE). The listener bus is ordered per query, so
    # waiting for the termination event guarantees every progress
    # event has been delivered.
    listener = _ProgressLog()
    spark.streams.addListener(listener)
    try:
        query = start_untagged(
            agg.writeStream.outputMode(output_mode).format("memory").queryName(name)
        )
        try:
            query.processAllAvailable()
        finally:
            qid = str(query.id)
            query.stop()
        if collect_progress or output_mode == "update":
            if not listener.wait_terminated(qid):
                raise AssertionError(
                    f"stream '{name}': termination event not delivered "
                    "within 60s; progress log may be incomplete"
                )
            progresses = [p for i, p in listener.progress if i == qid]
    finally:
        spark.streams.removeListener(listener)
        spark.conf.set("spark.sql.shuffle.partitions", old)
    if output_mode == "update":
        # the memory sink APPENDS every batch's updated rows: a key
        # touched in two data-carrying micro-batches would leave its
        # stale intermediate row alongside final state in the table.
        # The update-mode callers (q49/q133/q252) read the table as
        # final state, so pin the precondition that makes that valid —
        # the bounded replay resolved to at most ONE data batch. The
        # check is deliberately conservative: a multi-batch replay
        # whose batches touch DISJOINT keys would also be rejected,
        # though its table would be clean — callers wanting that must
        # dedupe to last-row-per-key themselves.
        data_batches = [
            int(p["batchId"]) for p in progresses if p["numInputRows"] > 0
        ]
        if len(data_batches) > 1:
            raise AssertionError(
                f"update-mode memory sink '{name}' saw {len(data_batches)} "
                f"data-carrying micro-batches {data_batches}: the table "
                "would mix stale per-key intermediates with final state; "
                "dedupe to last-row-per-key or keep the input single-batch"
            )
    table = spark.table(name)
    return (table, progresses) if collect_progress else table


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: running
    per-user (event count, value total) maintained in explicit
    GroupState across micro-batches — the escape hatch for stateful
    logic the built-in windowed aggregations can't express (custom
    eviction, counters, ML feature state). State per key is two
    scalars. The total accumulates in INTEGER CENTS (event values are
    2-dp money), so the running sum is exact and order-independent
    across any micro-batch split — which is what lets q49 carry an
    exact-decimal oracle instead of a rows-only check; the single
    cents→double division at emit is correctly rounded in both
    engines."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int(
                pdf["value"].fillna(0.0).mul(100).round().astype("int64").sum()
            )
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [cents / 100.0]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, sum_value double",
        stateStructType="n long, cents long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def split_views_purchases(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Tag and column-rename the two event streams for the interval
    join (distinct column names keep watermark bookkeeping explicit)."""
    v = events.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
        F.col("event_id").alias("view_id"),
    )
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    return v, p


def stream_stream_interval_join(events: DataFrame, lookback: str = "10 minutes") -> DataFrame:
    """Stream-stream interval join: each purchase matched to ALL of the
    same user's views in the trailing 10 minutes. Both sides carry
    watermarks so the join state is bounded: a buffered view can be
    evicted once the purchase-side watermark passes v_ts + lookback —
    the state-retention bound Structured Streaming derives from the
    interval condition. Batch twin with DuckDB oracle: q49a."""
    v, p = split_views_purchases(events)
    v = v.withWatermark("v_ts", lookback)
    p = p.withWatermark("p_ts", lookback)
    return p.join(
        v,
        F.expr(
            "p_user = v_user AND v_ts >= p_ts - INTERVAL 10 MINUTES AND v_ts <= p_ts"
        ),
        "inner",
    ).select("purchase_id", F.col("p_user").alias("user_id"), "view_id")


def dedup_within_watermark(events: DataFrame) -> DataFrame:
    """Streaming exact deduplication: a duplicate-injected stream (every
    purchase event appears twice via self-union) deduplicated on
    event_id with ``dropDuplicatesWithinWatermark``. The watermark
    bounds the dedup state: a key's fingerprint is dropped once the
    watermark passes its event time + delay, so state is O(events per
    watermark horizon), not O(all events ever) — the property that makes
    exactly-once-style ingest dedup viable on an unbounded stream.
    (Plain ``dropDuplicates`` on a stream never evicts state.)"""
    dup = events.union(events.filter(F.col("event_type") == "purchase"))
    return (
        dup.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type", "value")
    )


def stream_rollup_to_parquet(
    agg: DataFrame,
    path: str,
    name: str,
    shuffle_partitions: int = 8,
    checkpoint: str | None = None,
) -> None:
    """Maintain a parquet serving table from a streaming aggregation via
    ``foreachBatch`` — the sink pattern for stores Structured Streaming
    has no native connector for (JDBC upserts, search indexes, feature
    stores). Complete-mode state rewrites the table every micro-batch,
    which makes replay idempotent: the table is always a pure function
    of all input seen so far, so a restarted query converges to the
    same contents regardless of batch boundaries. At scale the rewrite
    becomes partition-overwrite (dynamic partitionOverwriteMode) so a
    batch only touches the windows it changed.

    ``checkpoint`` makes the query RESUMABLE: source offsets (which
    input files/Kafka ranges each batch consumed) and the aggregation
    state store are persisted there, so a stopped or crashed query
    restarted with the same checkpoint continues exactly where it left
    off — already-consumed input is not re-read, and carried state
    (earlier windows) survives the restart. That is the engine's
    fault-tolerance contract on a real cluster; exercised end-to-end in
    tests/test_streaming.py::test_checkpoint_recovery."""
    spark = agg.sparkSession
    for q in spark.streams.active:
        if q.name == name:
            q.stop()

    def write_batch(bdf: DataFrame, batch_id: int) -> None:
        bdf.write.mode("overwrite").parquet(path)

    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        writer = (
            agg.writeStream.outputMode("complete")
            .foreachBatch(write_batch)
            .queryName(name)
        )
        if checkpoint is not None:
            writer = writer.option("checkpointLocation", checkpoint)
        q = start_untagged(writer)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def enrich_with_static(
    events: DataFrame, dim: DataFrame, on: str, broadcast: bool = True
) -> DataFrame:
    """Stream-STATIC join: each micro-batch joins the static dimension
    — no streaming state at all, unlike stream-stream joins; the dim is
    re-resolvable per batch, which is how slowly-refreshed dimension
    snapshots behave in production. ``broadcast=True`` forces the hash
    relation onto the executors (right for catalog-sized dims); pass
    False for corpus-sized dims (e.g. per-user tables at production
    scale) so each micro-batch runs a shuffled join instead of trying
    to build an unbounded driver-side broadcast.
    """
    return events.join(F.broadcast(dim) if broadcast else dim, on)


def stateful_totals_tws(events: DataFrame) -> DataFrame:
    """Per-user running totals via ``transformWithStateInPandas`` —
    Spark 4's successor to applyInPandasWithState: named state
    variables (ValueState/ListState/MapState), timers, TTL, and
    mandatory RocksDB state store. Same semantics as
    ``stateful_user_totals`` (integer-cents accumulation → exact and
    batch-split-independent).

    LIVE since r8: the container still ships no protobuf wheel, but
    ``streaming/proto_vendor.py`` resolves the host's pure-Python
    6.32 runtime (plain ``google.*`` namespace) and exports it to the
    python workers — pre-JVM via the environment when the session is
    built through ``session.get_spark``, and since late r8 ALSO on
    already-running FOREIGN sessions, by shipping a patched vendor
    zip through the per-function worker environment
    (``proto_vendor.ensure_protobuf_on``; ``sc.addPyFile`` cannot do
    it, because TWS's schema-validation driver worker never reads the
    includes list). See
    tests/test_streaming.py::test_transform_with_state_live (pins the
    result against the applyInPandasWithState twin) and
    ::test_tws_under_foreign_session (vanilla builder session,
    end-to-end). Gates with the actionable diagnosis only when no
    vendorable runtime exists at all. Requires
    ``spark.sql.streaming.stateStore.providerClass =
    …state.RocksDBStateStoreProvider`` (mandatory for TWS)."""
    from ecowatt_etl_spark.streaming.proto_vendor import ensure_protobuf_on

    if not ensure_protobuf_on(events.sparkSession):
        raise ImportError(
            "transformWithStateInPandas requires google.protobuf (the "
            "worker's state-server protocol); no wheel and no vendorable "
            "runtime found (set ECOWATT_PROTOBUF_PATH to a directory "
            "containing a plain google/protobuf tree) — use "
            "stateful_user_totals (applyInPandasWithState) instead"
        )

    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import LongType, StructField, StructType

    state_schema = StructType(
        [StructField("n", LongType()), StructField("cents", LongType())]
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("totals", state_schema)

        def handleInputRows(self, key, rows, timer_values):
            n, cents = self._state.get() if self._state.exists() else (0, 0)
            for pdf in rows:
                n += len(pdf)
                cents += int(
                    pdf["value"].fillna(0.0).mul(100).round().astype("int64").sum()
                )
            self._state.update((n, cents))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "sum_value": [cents / 100.0]}
            )

        def close(self) -> None:
            pass  # no external resources; Spark owns the state handle

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningTotals(),
        outputStructType="user_id long, n_events long, sum_value double",
        outputMode="Update",
        timeMode="None",
    )


def stateful_ewma(events: DataFrame, alpha: float = 0.3) -> DataFrame:
    """Full-history EWMA per user as explicit GroupState — a custom
    stateful streaming operator whose result is EXACTLY checkable
    cross-engine, which windowed floats normally aren't: each
    micro-batch is sorted by (ts, event_id) inside the update function
    and folded sequentially from the carried state, so the end-to-end
    operation sequence over any batch split equals one ordered fold
    over the whole stream — the same doubles DuckDB's list_reduce
    produces. State per key is two scalars (ewma, n)."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        acc, n = state.get if state.exists else (0.0, 0)
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["ts", "event_id"])
        for x in batch["value"].tolist():
            acc = acc * (1 - alpha) + alpha * float(x)
        n += len(batch)
        state.update((acc, n))
        yield pd.DataFrame(
            {"user_id": [key[0]], "ewma": [acc], "n_events": [n]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, ewma double, n_events long",
        stateStructType="acc double, n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def ohlc_bars_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Daily OHLC candlestick bars as a streaming aggregation — the
    q164 rollup maintained incrementally: min_by/max_by over the
    composite (epoch-micros, event_id) ordering key are declarative
    aggregates, so the bar state per (type, day) is five scalars and
    late data folds in exactly like any other streaming agg until the
    watermark finalizes the bar. Values ride integer micro-units; the
    display divisions happen after the aggregate, so a replayed stream
    is bit-identical to the batch q164 (its exact oracle rides along).
    """
    v_us = (
        (F.col("value").cast("decimal(18,6)") * F.lit(1_000_000))
        .cast("bigint")
        .alias("v_us")
    )
    ord_key = (
        F.unix_micros("ts").cast("decimal(38,0)") * F.lit(10_000_000)
        + F.col("event_id")
    ).alias("ord_key")
    pts = events.select("event_type", "ts", v_us, ord_key)
    return (
        pts.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            (F.min_by("v_us", "ord_key").cast("double") / 1_000_000).alias("open"),
            (F.max("v_us").cast("double") / 1_000_000).alias("high"),
            (F.min("v_us").cast("double") / 1_000_000).alias("low"),
            (F.max_by("v_us", "ord_key").cast("double") / 1_000_000).alias("close"),
            F.count("*").alias("n_trades"),
            (
                F.sum(F.col("v_us").cast("decimal(38,0)"))
                .cast("string")
                .cast("double")
                / 1_000_000
            ).alias("total_value"),
        )
        .select(
            F.to_date("w.start").alias("bar_date"),
            "event_type",
            "open",
            "high",
            "low",
            "close",
            "n_trades",
            "total_value",
        )
    )


def stateful_clamped_balance(
    events: DataFrame, cap_us: int = 500_000_000
) -> DataFrame:
    """The q251 clamped-balance scan LIVE: per-user saturating ledger
    state carried in GroupState (applyInPandasWithState). Deltas enter
    as exact int64 micro-units (the decimal quantization happens
    JVM-side before Arrow), each micro-batch is sorted by (ts,
    event_id) and folded sequentially from the carried state, so the
    end-to-end integer operation sequence equals one ordered fold over
    the whole stream WHENEVER batches partition the stream in per-key
    event-time order (true for this harness's ordered single-file
    replay, and for any source delivering per-key in-order). A
    non-associative fold CANNOT absorb out-of-order arrivals from
    carried state alone — a production deployment sorts upstream per
    key or buffers within a watermark before folding (the q149
    merge-ordering guard is the same discipline on the sink side).
    Sequential per key, parallel across keys. State per key: four
    int64 scalars."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        bal, ncap, nflo, n = state.get if state.exists else (0, 0, 0, 0)
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["ts", "event_id"])
        for t, v in zip(batch["event_type"].tolist(), batch["v_us"].tolist()):
            moved = bal + (int(v) if t == "purchase" else -int(v))
            if moved > cap_us:
                ncap += 1
            if moved < 0:
                nflo += 1
            bal = min(max(moved, 0), cap_us)
        n += len(batch)
        state.update((bal, ncap, nflo, n))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_moves": [n],
                "balance_us": [bal],
                "n_capped": [ncap],
                "n_floored": [nflo],
            }
        )

    v_us = (
        (F.col("value").cast("decimal(18,6)") * F.lit(1_000_000))
        .cast("bigint")
        .alias("v_us")
    )
    pts = events.filter(F.col("event_type").isin("purchase", "error")).select(
        "user_id", "ts", "event_id", "event_type", v_us
    )
    return pts.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id long, n_moves long, balance_us long,"
            " n_capped long, n_floored long"
        ),
        stateStructType="bal long, ncap long, nflo long, n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents table (schema inferred
    once per file version by ``inferred_schema`` — streaming sources
    need it explicit). The single ordered file arrives as one
    micro-batch in this harness; a live deployment's chunked arrivals
    hit the same code path (the q49-family chunk-replay machinery
    drives multi-batch cases)."""
    return (
        spark.readStream.schema(inferred_schema(spark, sf_dir, "documents.parquet"))
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def stateful_source_packing(docs: DataFrame, pack_c: int) -> DataFrame:
    """Per-SOURCE sequence packing LIVE: the running token offset of
    each source's packed stream carried as GroupState
    (applyInPandasWithState) — the streaming half of the
    q267/q268 batch≡streaming pair (same contract as q251/q252: the
    non-associative fold lands on identical final state when batches
    partition the stream in per-key order, which the ordered replay
    guarantees; production sorts per key upstream or buffers within a
    watermark). Token counts are computed JVM-side BEFORE the stateful
    op (F.size over the split — codegen), so Python folds plain ints:
    per doc, straddle iff offset DIV C != (offset+n_tok-1) DIV C, then
    offset += n_tok. State per source: three int64 scalars.

    Scale: sequential per source, parallel across sources; each
    micro-batch shuffles (source, doc_id, n_tok) — never text — into
    the state store."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ecowatt_etl_spark.operators.text import tokens

    def update(key, pdfs, state: GroupState):
        off, n_docs, n_straddlers = (
            state.get if state.exists else (0, 0, 0)
        )
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values("doc_id")
        for n_tok in batch["n_tok"].tolist():
            n_tok = int(n_tok)
            if off // pack_c != (off + n_tok - 1) // pack_c:
                n_straddlers += 1
            off += n_tok
            n_docs += 1
        state.update((off, n_docs, n_straddlers))
        yield pd.DataFrame(
            {
                "source": [key[0]],
                "n_docs": [n_docs],
                "total_tokens": [off],
                "n_bins": [(off + pack_c - 1) // pack_c],
                "n_straddlers": [n_straddlers],
            }
        )

    nz = docs.select(
        "source", "doc_id", F.size(tokens("text")).alias("n_tok")
    ).filter(F.col("n_tok") > 0)
    return nz.groupBy("source").applyInPandasWithState(
        update,
        outputStructType=(
            "source string, n_docs long, total_tokens long,"
            " n_bins long, n_straddlers long"
        ),
        stateStructType="off long, n_docs long, n_straddlers long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
