"""SparkSession factory.

One place to encode the execution-model decisions that matter at scale:
AQE on (runtime re-planning, skew-join splitting, partition coalescing),
shuffle partitions sized to the parallelism actually available, Arrow on
for the Pandas-UDF paths, session timezone pinned to UTC so timestamp
semantics are stable and comparable against external oracles, and a
generated-code class cache large enough to hold every class one session
generates, so a warm request reuses the classes the last one compiled.

Broadcast pieces (task binaries, Hadoop confs, join builds) are cut to
512 KiB, below half of the G1 region size of a 2-4 GB heap, so they
are allocated in the young generation instead of as humongous objects;
that sets the serving process's peak RSS, not its data. A heap under
2 GB has 1 MB regions, where they stay humongous.

On a real cluster the same builder is used — only master/memory change
via spark-submit conf; nothing here hard-codes local mode semantics.
"""

from __future__ import annotations

import gc
import os

from pyspark.sql import SparkSession

from ecowatt_etl_spark.cache import SESSION_CACHES

DEFAULT_SHUFFLE_PARTITIONS = 32


def _default_driver_mem() -> str:
    """Driver-memory default clamped to the host (r6 ADVICE): 8g is
    right for the dev box (local mode puts executors in the driver
    JVM; measured OOMs under Spark's 1g default at 10x the gate
    scale), but a blind 8g can refuse to start — or thrash — on a
    smaller host. Clamp to half of detected physical RAM, floor 1g
    (Spark's own default), cap 8g; SPARK_GRAFT_DRIVER_MEM overrides."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        return f"{max(1, min(8, total // (2 * 1024**3)))}g"
    except (ValueError, OSError, AttributeError):
        return "8g"


def get_spark(
    app_name: str = "ecowatt-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Respects ``SPARK_GRAFT_CPUS`` for local parallelism. All settings are
    declarative hints — an existing session is returned as-is by
    ``getOrCreate`` (Spark semantics), which is what tests and the
    driver harness rely on. Static confs (driver memory, the codegen
    cache size) take effect only when this call starts the JVM; a
    session that ``getOrCreate`` reuses keeps the ones it started with.
    """
    # Resolve a google.protobuf runtime BEFORE the JVM starts: python
    # workers snapshot the driver env at JVM launch, and the
    # transformWithState state-server protocol needs protobuf in the
    # worker (streaming/proto_vendor.py). Best-effort — every non-TWS
    # operator is indifferent to the outcome.
    from ecowatt_etl_spark.streaming.proto_vendor import ensure_protobuf

    ensure_protobuf()
    # Python workers import this package to unpickle its functions and
    # data sources, and they take PYTHONPATH from the JVM's environment,
    # fixed at launch: without the package's parent directory there, a
    # session started outside the repository root fails every such query.
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if root not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([root, *paths])

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # --- scale knobs -------------------------------------------------
        # AQE: runtime stats drive partition coalescing, skew-join split,
        # and broadcast conversion — the per-query tuning a 1000-executor
        # cluster cannot do statically.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r11 (guide §3.1): let AQE demote a sort-merge join to a
        # shuffled-hash join AT RUNTIME when every post-shuffle
        # partition of the build side is under 16 MB — the dedup/text
        # families pin spill-safe `merge` joins on frames whose size
        # estimates are garbage (explode fan-out), and at gate scale
        # those partitions are single-digit MB, so both sort passes
        # are pure overhead (measured: q171 2.83→2.13 s, q169
        # 2.44→2.10 s, q157 1.64→1.40 s, q53/q127 −10%, values
        # identical). Scale-adaptive by construction: a partition
        # above the threshold keeps the sort-merge plan, so 100×/100 TB
        # behavior is unchanged unless AQE PROVES the build side small.
        # 16 MB (not advisoryPartitionSizeInBytes' 64 MB default)
        # bounds worst-case concurrent build memory on local[32] to
        # ~32×3×16 MB ≈ 1.5 GB under the 8 g driver-as-executor JVM;
        # on a real cluster raise it toward the advisory size.
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(16 * 1024 * 1024),
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Generated classes live in one JVM-wide cache of 100 entries by
        # default, but the analyst_serving deck alone uses ~430 distinct
        # classes, so every warm deck evicted each class before its next
        # use and re-ran Janino on ~320-350 of them (3.0-6.1 s of compile
        # per deck, paid inside queries.execute_s). 8192 holds every class
        # a one-session pass over the whole registry generates (4,430 at
        # sf0.001, against 6,090 compiles under the default); a warm deck
        # then compiles 0-8. Memory after a full GC (4 vCPU, sf0.01 deck,
        # sf0.001 sweep): +2 MB metaspace and no heap change after two
        # warm decks; +32 MB metaspace and +124 MB heap after the whole
        # registry, since the cached classes stay reachable. A static
        # conf: read when the JVM first generates code.
        .config("spark.sql.codegen.cache.maxEntries", "8192")
        # Every stage's task binary, every scan's Hadoop conf and every
        # broadcast join build is a TorrentBroadcast, which serializes
        # into pieces of spark.broadcast.blockSize (default 4m) and
        # allocates the first piece in full. G1 puts any object of half
        # a region or more in humongous regions of the old generation:
        # a 2-4 GB heap has 2 MB regions, so every 4 MiB first piece
        # went humongous. In one 17-s analyst_serving window (JFR,
        # 4 vCPU, 3g heap) they were 6.0 of 7.7 GB of humongous
        # allocation, caused 48 young GCs and grew the heap to 2.5 GB
        # for a live set of about 300 MB. A 512 KiB piece plus its
        # 16-byte header is under half a 2 MB region, so it is
        # allocated young and dies young: analyst_serving peak RSS
        # 3328 -> 2607 MB (median of 10 seed pairs, 4 vCPU, lower in all
        # 10), humongous-triggered GCs per window 50 -> 9 and 49 -> 30
        # (two seeds). A heap under 2 GB has 1 MB regions, where a
        # 512 KiB piece is still humongous. The GCs left come from
        # Spark's fixed 1 MiB task-serialization and collect chunks; a
        # 4 MB region removed them too but gave no further peak-RSS gain.
        .config("spark.broadcast.blockSize", "512k")
        # Local mode puts driver and executors in ONE JVM, so
        # spark.driver.memory IS the executor memory: the 1g Spark
        # default starves shuffles/broadcasts/localCheckpoints the
        # moment data grows past the smallest test scale (measured:
        # three iterative queries OOM at 10x the gate scale under 1g,
        # all pass under 8g). Clamped to half the host's RAM so the
        # JVM always starts; overridable for constrained harnesses;
        # ignored by getOrCreate when a session already exists.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(),
        )
        # Dimension tables in this workload are KB–MB: let Catalyst
        # broadcast them (10 MB default is fine; raised a bit for dims
        # that grow with SF).
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # lower/upper/initcap through the JVM's case mapping, not ICU's:
        # the first ICU case mapping in a JVM runs ICU's class
        # initializer (1.14 s against 0.15 s for the first initcap in a
        # fresh session), and functions/cleaning.title_case puts it on
        # the cold ETL's critical path. The two differ only outside
        # ASCII; the star on two generated seeds and the 299 registry
        # queries that need no reference data (50 with a case mapping
        # in their plan, run at sf0.01) gave identical rows under both.
        .config("spark.sql.icu.caseMappings.enabled", "false")
        # --- correctness / determinism knobs -----------------------------
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Parquet pushdown is on by default; keep explicit so a config
        # audit shows intent.
        .config("spark.sql.parquet.filterPushdown", "true")
        # Some producers (pandas/arrow) write TIMESTAMP(NANOS) parquet,
        # which Spark rejects by default; read as epoch-nanos longs and
        # convert at the scan wrapper (sources/tables.py) — the same
        # truncate-to-micros DuckDB applies.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def evict_session_artifacts(spark: SparkSession) -> int:
    """Clear every session-artifact cache (dedup, ANN and token-stats
    indexes, BPE merge tables, the EcoWatt star) and release their
    executor blocks; returns the number of evicted entries. Each cache
    is an ``ArtifactCache`` that registers itself in
    ``cache.SESSION_CACHES`` when it is created, so none is listed here.
    ``sources.tables``' file-version memo does not register.

    Why (r6 verdict item 4): a long shared session that touches many
    scales and families accumulates pinned localCheckpoint blocks; at
    100x the gate scale they slowed an unrelated sort-heavy query (q42:
    34.6 s fresh vs 116 s late in a loaded session). Probe harnesses and
    scale sweeps call this between families. Clearing drops the last
    Python references, gc.collect() releases the py4j handles, and the
    JVM ContextCleaner then frees the blocks asynchronously."""
    n = sum(c.clear() for c in list(SESSION_CACHES))
    spark.catalog.clearCache()
    gc.collect()
    return n
