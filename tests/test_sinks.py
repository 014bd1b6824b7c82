"""JDBC sink wrapper (S7/S8) and records wrapper (S10).

S7/S8 run LIVE against embedded Apache Derby (shipped on Spark's
classpath for the Hive metastore): replace/append round-trips, replace
semantics, and PK enforcement all hit a real database through Spark's
JDBC writer. The no-driver boundary test keeps the missing-driver
failure mode covered for databases whose jar is absent (the reference's
SQL Server). The PK DDL and record shapes are pure functions, tested
exactly.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from ecowatt_etl_spark.sources.jdbc import primary_key_ddl, to_records, write_jdbc

_DERBY_PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


def _derby_url(tmp_path) -> str:
    return f"jdbc:derby:{tmp_path}/db;create=true"


def _read_jdbc_sorted(spark, url, table):
    df = spark.read.jdbc(url, table, properties=_DERBY_PROPS)
    return sorted(tuple(r) for r in df.select(sorted(df.columns)).collect())


def test_write_jdbc_replace_roundtrip_live(spark, tmp_path):
    """S7 live: mode='replace' (pandas to_sql vocabulary) creates the
    table, and a second replace OVERWRITES rather than appends —
    verified by reading back through a real Derby database."""
    url = _derby_url(tmp_path)
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "id bigint, name string, v double"
    )
    write_jdbc(df, url, "t_rep", mode="replace", properties=_DERBY_PROPS)
    assert _read_jdbc_sorted(spark, url, "t_rep") == [(1, "a", 1.5), (2, "b", 2.5)]

    df2 = spark.createDataFrame([(9, "z", 0.5)], "id bigint, name string, v double")
    write_jdbc(df2, url, "t_rep", mode="replace", properties=_DERBY_PROPS)
    assert _read_jdbc_sorted(spark, url, "t_rep") == [(9, "z", 0.5)]


def test_write_jdbc_append_live(spark, tmp_path):
    """S8 live: mode='append' adds rows without touching existing ones."""
    url = _derby_url(tmp_path)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, name string")
    write_jdbc(df, url, "t_app", mode="replace", properties=_DERBY_PROPS)
    write_jdbc(
        spark.createDataFrame([(3, "c")], "id bigint, name string"),
        url,
        "t_app",
        mode="append",
        properties=_DERBY_PROPS,
    )
    assert _read_jdbc_sorted(spark, url, "t_app") == [(1, "a"), (2, "b"), (3, "c")]


def test_primary_key_enforced_live(spark, tmp_path):
    """The PK DDL contract, proven end-to-end: after a replace-load the
    key constraint is applied out-of-band (as the reference does via
    its DB connection; Derby dialect here, T-SQL there — same two
    statements: NOT NULL then PRIMARY KEY) and a duplicate-key append
    is REJECTED by the database."""
    url = _derby_url(tmp_path)
    df = spark.createDataFrame([(1, "x")], "fact_t_id bigint, name string")
    write_jdbc(df, url, "fact_t", mode="replace", properties=_DERBY_PROPS)

    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        # Derby-dialect twins of primary_key_ddl("fact_t"). Spark's
        # JDBC writer passes the TABLE name through unquoted (Derby
        # normalizes it to upper case) but quotes every COLUMN
        # case-exact — the DDL must mix accordingly.
        st.execute('ALTER TABLE fact_t ALTER COLUMN "fact_t_id" NOT NULL')
        st.execute(
            'ALTER TABLE fact_t ADD CONSTRAINT "PK_fact_t" '
            'PRIMARY KEY ("fact_t_id")'
        )
        st.close()
    finally:
        conn.close()

    dup = spark.createDataFrame([(1, "dup")], "fact_t_id bigint, name string")
    with pytest.raises(Exception, match="(?i)duplicate key|unique|constraint"):
        write_jdbc(dup, url, "fact_t", mode="append", properties=_DERBY_PROPS)
    # the original row survived the rejected batch
    assert _read_jdbc_sorted(spark, url, "fact_t") == [(1, "x")]


def test_to_records_matches_reference_shape(spark):
    df = spark.createDataFrame(
        [("Newtown", 12, 3.5)], "SUBURB_NAME string, TOTAL_EVS int, score double"
    )
    assert to_records(df) == [
        {"SUBURB_NAME": "Newtown", "TOTAL_EVS": 12, "score": 3.5}
    ]


def test_primary_key_ddl_fact_and_dim():
    # reference datsetup.py:100-113: facts key on {table}_id, dims on dim->id
    assert primary_key_ddl("fact_ev_impact")[1].endswith("(fact_ev_impact_id)")
    assert primary_key_ddl("suburb_dim")[0].startswith(
        "ALTER TABLE suburb_dim ALTER COLUMN suburb_id"
    )


def test_write_jdbc_rejects_unknown_mode(spark):
    df = spark.range(1)
    with pytest.raises(ValueError, match="mode must be one of"):
        write_jdbc(df, "jdbc:postgresql://x/y", "t", mode="upsert")


def test_write_jdbc_reaches_driver_boundary(spark):
    """Without a JDBC driver on the classpath the writer must fail with
    the missing-driver error — proving the wrapper wired url/table/mode
    through to Spark's JDBC path (not some earlier validation error)."""
    df = spark.range(2)
    with pytest.raises(Exception, match="(?i)driver|ClassNotFound"):
        write_jdbc(df, "jdbc:postgresql://localhost:5432/nope", "t", mode="append")


# ---------------------------------------------------------------------------
# merge_upsert / scd2_apply
# ---------------------------------------------------------------------------
def _read_sorted(spark, path):
    df = spark.read.parquet(path)
    return sorted(tuple(r) for r in df.select(sorted(df.columns)).collect())


def test_upsert_bootstrap_then_merge(spark, tmp_path):
    from ecowatt_etl_spark.sources.upsert import merge_upsert

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "id long, name string, v long"
    )
    merge_upsert(spark, path, base, keys=["id"])
    batch = spark.createDataFrame(
        [(2, "B", 99), (4, "d", 40)], "id long, name string, v long"
    )
    merge_upsert(spark, path, batch, keys=["id"])
    assert _read_sorted(spark, path) == [
        (1, "a", 10),
        (2, "B", 99),
        (3, "c", 30),
        (4, "d", 40),
    ]


def test_partitioned_upsert_leaves_untouched_partitions_on_disk(spark, tmp_path):
    """Dynamic partition overwrite contract: merging a batch that
    touches only part=1 must not rewrite part=2's files at all."""
    import os

    from ecowatt_etl_spark.sources.upsert import merge_upsert

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, 1, "a"), (2, 1, "b"), (3, 2, "c")], "id long, part long, name string"
    )
    merge_upsert(spark, path, base, keys=["id"], partition_col="part")

    p2 = os.path.join(path, "part=2")
    before = {f: os.path.getmtime(os.path.join(p2, f)) for f in os.listdir(p2)}

    batch = spark.createDataFrame([(1, 1, "A"), (9, 1, "z")], "id long, part long, name string")
    merge_upsert(spark, path, batch, keys=["id"], partition_col="part")

    after = {f: os.path.getmtime(os.path.join(p2, f)) for f in os.listdir(p2)}
    assert before == after  # same files, same mtimes — never rewritten
    assert _read_sorted(spark, path) == [
        (1, "A", 1),
        (2, "b", 1),
        (3, "c", 2),
        (9, "z", 1),
    ]


def test_scd2_closes_open_rows_and_appends_versions(spark):
    from ecowatt_etl_spark.sources.upsert import scd2_apply

    dim = spark.createDataFrame(
        [
            (1, "old-a", 100, 200),  # closed history row
            (1, "cur-a", 200, None),  # open
            (2, "cur-b", 150, None),  # open, untouched by batch
        ],
        "id long, attr string, valid_from long, valid_to long",
    )
    changes = spark.createDataFrame(
        [(1, "new-a", 300)], "id long, attr string, valid_from long"
    )
    out = sorted(
        tuple(r) for r in scd2_apply(dim, changes, keys=["id"]).collect()
    )
    assert out == [
        (1, "cur-a", 200, 300),  # closed at the change's effective time
        (1, "new-a", 300, None),  # new open version
        (1, "old-a", 100, 200),  # history untouched
        (2, "cur-b", 150, None),  # other keys untouched
    ]


def test_scd2_chains_multiple_changes_per_key(spark):
    """A batch with several changes for one key must produce a version
    CHAIN (each closed by the next, last open) — not duplicated history
    or concurrent open rows."""
    from ecowatt_etl_spark.sources.upsert import scd2_apply

    dim = spark.createDataFrame(
        [(1, "cur", 100, None)], "id long, attr string, valid_from long, valid_to long"
    )
    changes = spark.createDataFrame(
        [(1, "v2", 300), (1, "v3", 400)], "id long, attr string, valid_from long"
    )
    out = sorted(tuple(r) for r in scd2_apply(dim, changes, keys=["id"]).collect())
    assert out == [
        (1, "cur", 100, 300),  # closed at the EARLIEST change
        (1, "v2", 300, 400),  # chained: closed by the next change
        (1, "v3", 400, None),  # exactly one open row
    ]


def test_upsert_newer_than_guard_ignores_stale_rows(spark, tmp_path):
    """CDC guard: with newer_than ordering columns, a matched row is
    only displaced by a STRICTLY newer update — stale rows (out-of-
    order replay) and exact ties keep the stored state, so merge order
    across batches cannot regress latest-state."""
    from ecowatt_etl_spark.sources.upsert import merge_upsert

    path = str(tmp_path / "t")
    schema = "id long, ts long, seq long, name string"
    base = spark.createDataFrame([(1, 100, 5, "cur"), (2, 50, 1, "old2")], schema)
    merge_upsert(spark, path, base, keys=["id"])

    batch = spark.createDataFrame(
        [
            (1, 90, 9, "stale"),   # older ts → must NOT displace
            (2, 50, 1, "tie"),     # exact tie → stored row wins
            (3, 10, 0, "new"),     # unmatched → insert
        ],
        schema,
    )
    merge_upsert(spark, path, batch, keys=["id"], newer_than=["ts", "seq"])
    assert _read_sorted(spark, path) == [
        (1, "cur", 5, 100),
        (2, "old2", 1, 50),
        (3, "new", 0, 10),
    ]

    newer = spark.createDataFrame([(1, 100, 6, "adv")], schema)  # same ts, newer seq
    merge_upsert(spark, path, newer, keys=["id"], newer_than=["ts", "seq"])
    assert (1, "adv", 6, 100) in _read_sorted(spark, path)


def test_upsert_newer_than_is_replay_idempotent(spark, tmp_path):
    """Replaying the SAME change batch twice must be a no-op the
    second time (ties keep stored rows)."""
    from ecowatt_etl_spark.sources.upsert import merge_upsert

    path = str(tmp_path / "t")
    schema = "id long, ts long, seq long, name string"
    merge_upsert(
        spark, path, spark.createDataFrame([(1, 1, 1, "a")], schema), keys=["id"]
    )
    batch = spark.createDataFrame([(1, 2, 1, "b"), (2, 1, 1, "c")], schema)
    merge_upsert(spark, path, batch, keys=["id"], newer_than=["ts", "seq"])
    first = _read_sorted(spark, path)
    merge_upsert(spark, path, batch, keys=["id"], newer_than=["ts", "seq"])
    assert _read_sorted(spark, path) == first


def test_upsert_rejects_duplicate_keys_in_batch(spark, tmp_path):
    import pytest

    from ecowatt_etl_spark.sources.upsert import merge_upsert

    path = str(tmp_path / "t")
    base = spark.createDataFrame([(1, "a")], "id long, name string")
    merge_upsert(spark, path, base, keys=["id"])
    dup = spark.createDataFrame([(2, "b"), (2, "c")], "id long, name string")
    with pytest.raises(ValueError, match="multiple rows per key"):
        merge_upsert(spark, path, dup, keys=["id"])


# ---------------------------------------------------------------------------
# schema evolution across parquet batches
# ---------------------------------------------------------------------------
def test_schema_evolution_reads_old_batches_as_null(spark, tmp_path):
    from ecowatt_etl_spark.sources.formats import read_parquet_evolved

    path = str(tmp_path / "t")
    v1 = spark.createDataFrame([(1, "a")], "id long, name string")
    v1.write.mode("append").parquet(path)
    v2 = spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    )
    v2.write.mode("append").parquet(path)

    rows = sorted(tuple(r) for r in read_parquet_evolved(spark, path)
                  .select("id", "name", "score").collect())
    assert rows == [(1, "a", None), (2, "b", 9.5)]

    # explicit schema pins the view without a footer sweep
    import pyspark.sql.types as T

    target = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    rows2 = sorted(tuple(r) for r in read_parquet_evolved(spark, path, target).collect())
    assert rows2 == [(1, None), (2, 9.5)]


# ---------------------------------------------------------------------------
# storage layout: compaction + range-sorted writes
# ---------------------------------------------------------------------------
def _parquet_files(path):
    import os

    return sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )


def test_compaction_reduces_file_count_preserving_rows(spark, tmp_path):
    from ecowatt_etl_spark.sources.layout import compact_parquet

    path = str(tmp_path / "t")
    spark.range(1000).repartition(20).write.parquet(path)
    assert len(_parquet_files(path)) == 20

    n = compact_parquet(spark, path, target_file_bytes=10**9)
    assert n == 1
    assert len(_parquet_files(path)) == 1
    assert spark.read.parquet(path).count() == 1000


def test_range_sorted_files_have_disjoint_key_ranges(spark, tmp_path):
    """The data-skipping contract: every file covers a disjoint key
    range, so footer min/max stats prune a point predicate to one
    file."""
    from ecowatt_etl_spark.sources.layout import write_range_sorted

    path = str(tmp_path / "t")
    df = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS v")
    write_range_sorted(df, path, key="k", n_files=4)

    ranges = []
    for f in _parquet_files(path):
        part = spark.read.parquet(f).agg(
            F.min("k").alias("lo"), F.max("k").alias("hi")
        ).collect()[0]
        if part.lo is not None:
            ranges.append((part.lo, part.hi))
    ranges.sort()
    assert len(ranges) >= 3  # range partitioner used the file budget
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, ranges  # disjoint, ordered key ranges
    assert spark.read.parquet(path).count() == 1000


def test_avro_roundtrip_live(spark, tmp_path):
    """Avro is LIVE (r6 verdict item 6): the JVM connector when
    present, else the pure-Python object-container fallback
    (sources/avro_py.py). Either way the round-trip must be lossless
    across the full supported type set — including the union-encoded
    nullables, logical date/timestamp, binary, and float arrays."""
    from pyspark.sql import functions as F

    from ecowatt_etl_spark.sources.formats import read_avro, write_avro

    df = spark.range(200).select(
        F.col("id").cast("long").alias("k"),
        F.col("id").cast("int").alias("i"),
        (F.col("id") % 2 == 0).alias("flag"),
        F.when(F.col("id") % 7 == 0, None)
        .otherwise(F.concat(F.lit("row-"), F.col("id")))
        .alias("s"),
        (F.col("id") * 0.25).cast("double").alias("d"),
        (F.col("id") * 0.5).cast("float").alias("f"),
        F.to_date(F.lit("2024-01-01")).alias("dt"),
        F.to_timestamp(F.lit("2024-06-15 12:34:56.789012")).alias("ts"),
        F.encode(F.concat(F.lit("b"), F.col("id")), "utf-8").alias("bin"),
        F.array(
            F.col("id").cast("float"), (F.col("id") + 1).cast("float")
        ).alias("vec"),
    )
    out = str(tmp_path / "avro_out")
    write_avro(df, out)
    got = read_avro(spark, out)
    # nullability may be TIGHTENED by the optimizer at write time
    # (constant-foldable columns prove non-null); names/types must
    # roundtrip exactly and a genuinely-null column stays nullable.
    assert [(f.name, f.dataType) for f in got.schema.fields] == [
        (f.name, f.dataType) for f in df.schema.fields
    ]
    assert got.schema["s"].nullable
    key = lambda rows: sorted(  # noqa: E731
        (tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in r))
        for r in rows
    )
    assert key(got.collect()) == key(df.collect())


def test_avro_python_container_is_spec_shaped(spark, tmp_path):
    """The pure-Python container must carry the spec framing any Avro
    reader checks: magic Obj\\x01, avro.schema metadata, repeated sync
    markers — so files interchange with the JVM connector."""
    import json

    from ecowatt_etl_spark.sources import avro_py

    rows = [(i, f"s{i}" if i % 3 else None) for i in range(2500)]
    df = spark.createDataFrame(rows, "k long, s string")
    out = str(tmp_path / "py_avro")
    avro_py.register_avro(spark)
    df.repartition(3).write.format("ecowatt-avro").mode("overwrite").save(out)

    import os

    parts = [p for p in os.listdir(out) if p.endswith(".avro")]
    assert len(parts) == 3
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    raw = open(os.path.join(out, parts[0]), "rb").read()
    assert raw[:4] == avro_py.MAGIC
    meta = avro_py.read_header(os.path.join(out, parts[0]))
    schema = json.loads(meta["avro.schema"])
    assert schema["type"] == "record"
    assert [f["name"] for f in schema["fields"]] == ["k", "s"]
    assert meta["avro.codec"] == b"null"
    assert raw.count(meta["_sync"]) >= 2  # header + >=1 block

    back = spark.read.format("ecowatt-avro").load(out)
    assert sorted(tuple(r) for r in back.collect()) == sorted(rows)


def test_avro_deflate_codec_roundtrip(spark, tmp_path):
    """r7 verdict item 7: the deflate codec (raw RFC-1951, what real
    producers emit) must round-trip losslessly, advertise itself in
    the header, and actually compress."""
    import os

    from pyspark.sql import functions as F

    from ecowatt_etl_spark.sources import avro_py

    avro_py.register_avro(spark)
    df = spark.range(5000).select(
        "id",
        F.concat(F.lit("the quick brown fox " * 5), F.col("id")).alias("s"),
    )
    plain = str(tmp_path / "plain")
    packed = str(tmp_path / "deflate")
    df.coalesce(1).write.format("ecowatt-avro").mode("overwrite").save(plain)
    df.coalesce(1).write.format("ecowatt-avro").option(
        "codec", "deflate"
    ).mode("overwrite").save(packed)

    def size_of(d):
        (f,) = [n for n in os.listdir(d) if n.endswith(".avro")]
        return os.path.getsize(os.path.join(d, f)), os.path.join(d, f)

    plain_sz, _ = size_of(plain)
    packed_sz, packed_file = size_of(packed)
    assert avro_py.read_header(packed_file)["avro.codec"] == b"deflate"
    assert packed_sz < plain_sz / 3  # highly repetitive text

    back = spark.read.format("ecowatt-avro").load(packed)
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in df.collect()
    )

    with pytest.raises(Exception, match="unsupported avro codec"):
        df.write.format("ecowatt-avro").option("codec", "snappy").mode(
            "overwrite"
        ).save(str(tmp_path / "bad"))


def test_avro_commit_protocol(spark, tmp_path):
    """r7 ADVICE: the writer must never surface uncommitted files as
    data nor destroy the previous generation before a successful
    commit. Tasks write dot-prefixed temps; commit renames + publishes
    an authoritative _SUCCESS manifest; abort leaves prior data
    untouched."""
    import json
    import os

    from ecowatt_etl_spark.sources import avro_py

    avro_py.register_avro(spark)
    out = str(tmp_path / "committed")
    df = spark.createDataFrame([(i, f"v{i}") for i in range(100)], "k long, s string")
    df.repartition(2).write.format("ecowatt-avro").mode("overwrite").save(out)

    manifest = json.loads(open(os.path.join(out, "_SUCCESS")).read())
    parts = [n for n in os.listdir(out) if n.endswith(".avro")]
    assert sorted(manifest) == sorted(parts) and sum(manifest.values()) == 100
    assert not [n for n in os.listdir(out) if n.endswith(".inprogress")]

    # an orphan container (failed/speculative task debris, even
    # truncated garbage) must be invisible: the manifest is authoritative
    with open(os.path.join(out, "part-99999-orphan.avro"), "wb") as f:
        f.write(b"Obj\x01garbage-truncated")
    back = spark.read.format("ecowatt-avro").load(out)
    assert back.count() == 100

    # a failed OVERWRITE must leave the previous generation readable:
    # construction no longer deletes, and abort removes only temps
    writer = avro_py.AvroWriter(out, df.schema, overwrite=True)
    assert sorted(n for n in os.listdir(out) if n.endswith(".avro")) == sorted(
        parts + ["part-99999-orphan.avro"]
    )
    msg = writer.write(iter([(999, "doomed")]))
    assert os.path.exists(os.path.join(out, "." + msg.filename + ".inprogress"))
    writer.abort([msg])
    assert not [n for n in os.listdir(out) if n.endswith(".inprogress")]
    assert not os.path.exists(os.path.join(out, msg.filename))
    assert spark.read.format("ecowatt-avro").load(out).count() == 100

    # append mode merges the prior manifest instead of replacing it
    extra = spark.createDataFrame([(1000 + i, "x") for i in range(10)], "k long, s string")
    extra.coalesce(1).write.format("ecowatt-avro").mode("append").save(out)
    merged = json.loads(open(os.path.join(out, "_SUCCESS")).read())
    assert set(manifest) < set(merged)
    assert spark.read.format("ecowatt-avro").load(out).count() == 110

    # a successful overwrite is the only thing that removes the old
    # generation — including the planted orphan
    df.repartition(1).write.format("ecowatt-avro").mode("overwrite").save(out)
    left = [n for n in os.listdir(out) if n.endswith(".avro")]
    assert len(left) == 1 and "part-99999-orphan.avro" not in left
    assert spark.read.format("ecowatt-avro").load(out).count() == 100


def test_write_checked_gates_on_expectations(spark, tmp_path):
    """The write-time DQ gate: a frame violating a declared expectation
    must NOT land (and the error must name the failed checks with
    counts); a clean frame writes and returns the zero report. All
    checks ride one aggregate."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from ecowatt_etl_spark.sources.expectations import (
        ExpectationError,
        write_checked,
    )
    from ecowatt_etl_spark.sources.tables import load_table

    from tests.conftest import SF_SMOKE

    li = load_table(spark, SF_SMOKE, "lineitem")
    out = str(tmp_path / "gated")
    checks = {
        "orderkey_not_null": F.col("l_orderkey").isNotNull(),
        "qty_positive": F.col("l_quantity") > 0,
        "price_in_range": F.col("l_extendedprice").between(0, 10_000_000),
    }
    report = write_checked(li, out, checks)
    assert report == {"n_rows": li.count(), **{k: 0 for k in checks}}
    assert os.path.exists(out)

    bad = li.withColumn(
        "l_quantity",
        F.when(F.col("l_orderkey") % 100 == 0, -1.0).otherwise(
            F.col("l_quantity")
        ),
    )
    out2 = str(tmp_path / "gated2")
    with pytest.raises(ExpectationError, match="qty_positive"):
        write_checked(bad, out2, checks)
    assert not os.path.exists(out2), "violating frame must not land"

    # three-valued logic: a NULL-evaluating condition is NOT TRUE and
    # must count as a violation — the q257 trap, closed at the gate
    nullish = li.withColumn(
        "l_quantity",
        F.when(F.col("l_orderkey") % 100 == 0, None).otherwise(
            F.col("l_quantity")
        ),
    )
    out3 = str(tmp_path / "gated3")
    with pytest.raises(ExpectationError, match="qty_positive"):
        write_checked(nullish, out3, checks)
    assert not os.path.exists(out3)


def test_write_checked_staged_publishes_only_clean_batches(spark, tmp_path):
    """The write-audit-publish strategy: counts ride the staging write
    as Observation accumulators (no second scan), a clean batch is
    PUBLISHED by rename, a violating batch dies in staging — the
    target path never exists, and no staging litter survives."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from ecowatt_etl_spark.sources.expectations import (
        ExpectationError,
        write_checked,
    )
    from ecowatt_etl_spark.sources.tables import load_table

    from tests.conftest import SF_SMOKE

    li = load_table(spark, SF_SMOKE, "lineitem")
    checks = {
        "orderkey_not_null": F.col("l_orderkey").isNotNull(),
        "qty_positive": F.col("l_quantity") > 0,
    }
    out = str(tmp_path / "staged_ok")
    report = write_checked(li, out, checks)
    assert report == {"n_rows": li.count(), **{k: 0 for k in checks}}
    assert os.path.exists(out)
    assert spark.read.parquet(out).count() == li.count()

    bad = li.withColumn(
        "l_quantity",
        F.when(F.col("l_orderkey") % 100 == 0, -1.0).otherwise(
            F.col("l_quantity")
        ),
    )
    out2 = str(tmp_path / "staged_bad")
    with pytest.raises(ExpectationError, match="qty_positive"):
        write_checked(bad, out2, checks)
    assert not os.path.exists(out2), "violating staged batch must not publish"
    litter = [p for p in os.listdir(tmp_path) if "__staging_" in p]
    assert not litter, f"staging directories must be cleaned up: {litter}"


def test_write_checked_staged_append_accumulates(spark, tmp_path):
    """Append publish: a second staged batch lands its data files into
    the existing target without clobbering the first batch."""
    from pyspark.sql import functions as F

    from ecowatt_etl_spark.sources.expectations import write_checked
    from ecowatt_etl_spark.sources.tables import load_table

    from tests.conftest import SF_SMOKE

    n = load_table(spark, SF_SMOKE, "nation")
    out = str(tmp_path / "staged_append")
    checks = {"key_not_null": F.col("n_nationkey").isNotNull()}
    write_checked(n, out, checks, mode="append")
    write_checked(n, out, checks, mode="append")
    assert spark.read.parquet(out).count() == 2 * n.count()


def test_write_checked_staged_publish_failure_preserves_batch(
    spark, tmp_path, monkeypatch
):
    """Hadoop FileSystem.rename signals most failures by returning
    FALSE, not raising (r6 ADVICE). A false rename during PUBLISH of a
    verified-clean batch must (a) raise instead of returning a clean
    report, and (b) leave the staged data on disk for recovery rather
    than deleting the only good copy — and in overwrite mode the
    previous good batch must be restored, not lost. Forced here by
    wrapping the Hadoop fs so renames INTO the target return false
    (the object-store behavior local fs won't reproduce)."""
    import os

    import pytest
    from pyspark.sql import functions as F

    import ecowatt_etl_spark.sources.expectations as ex
    from ecowatt_etl_spark.sources.tables import load_table

    from tests.conftest import SF_SMOKE

    real_hadoop_fs = ex._hadoop_fs
    out = str(tmp_path / "staged_fail")

    class FalseRenameIntoTarget:
        """Delegate everything; report false for publish renames OUT
        of staging (the retire/restore renames still succeed, modeling
        a store that rejects the new objects specifically)."""

        def __init__(self, fs):
            self._fs = fs

        def rename(self, src, dst):
            if "__staging_" in str(src.toString()):
                return False
            return self._fs.rename(src, dst)

        def __getattr__(self, name):
            return getattr(self._fs, name)

    def wrapped(df, path):
        fs, jpath = real_hadoop_fs(df, path)
        return FalseRenameIntoTarget(fs), jpath

    n = load_table(spark, SF_SMOKE, "nation")
    checks = {"key_not_null": F.col("n_nationkey").isNotNull()}

    # seed a good batch BEFORE the failure injection
    ex.write_checked(n, out, checks)
    assert spark.read.parquet(out).count() == n.count()

    monkeypatch.setattr(ex, "_hadoop_fs", wrapped)
    with pytest.raises(OSError, match="returned false"):
        ex.write_checked(
            n.limit(3), out, checks, mode="overwrite"
        )
    # previous good batch restored from the retired name, not lost
    assert spark.read.parquet(out).count() == n.count()
    litter = [p for p in os.listdir(tmp_path) if "__staging_" in p]
    assert litter, "verified batch must survive a failed publish"
    staged = spark.read.parquet(str(tmp_path / litter[0]))
    assert staged.count() == 3

    # append publish: per-file renames into the target also flagged
    with pytest.raises(OSError, match="returned false"):
        ex.write_checked(
            n.limit(5), out, checks, mode="append"
        )
    assert spark.read.parquet(out).count() == n.count()


def test_write_checked_staged_overwrite_retires_old_target(spark, tmp_path):
    """Overwrite publish must never delete-then-rename: the previous
    batch is renamed aside and only removed after the new batch is
    confirmed in place. Observable contract: a clean overwrite replaces
    the data, leaves no retired/staging litter, and an unknown mode is
    rejected before anything is written."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from ecowatt_etl_spark.sources.expectations import write_checked
    from ecowatt_etl_spark.sources.tables import load_table

    from tests.conftest import SF_SMOKE

    n = load_table(spark, SF_SMOKE, "nation")
    out = str(tmp_path / "staged_overwrite")
    checks = {"key_not_null": F.col("n_nationkey").isNotNull()}
    write_checked(n, out, checks)
    write_checked(
        n.limit(7), out, checks, mode="overwrite"
    )
    assert spark.read.parquet(out).count() == 7
    litter = [
        p
        for p in os.listdir(tmp_path)
        if "__staging_" in p or "__retired_" in p
    ]
    assert not litter, f"clean publish must leave no litter: {litter}"
    with pytest.raises(ValueError, match="overwrite/append"):
        write_checked(n, out, checks, mode="error")


def test_avro_python_edge_cases(spark, tmp_path):
    """Container-codec edges: an empty write partition produces a
    header-only file the reader must skip cleanly; arrays may carry
    null ELEMENTS (union-encoded items); and unsupported nested types
    fail fast at the driver, not row-by-row on executors."""
    import pytest
    from pyspark.sql import functions as F

    from ecowatt_etl_spark.sources import avro_py

    avro_py.register_avro(spark)

    # empty partitions: 8-way repartition of 3 rows leaves >=5 empty
    df = spark.range(3).select(
        "id",
        F.when(F.col("id") == 1, None)
        .otherwise(F.array(F.col("id").cast("float"), F.lit(None)))
        .alias("vec"),
    )
    out = str(tmp_path / "edges")
    df.repartition(8).write.format("ecowatt-avro").mode("overwrite").save(out)
    back = spark.read.format("ecowatt-avro").load(out)
    got = {r["id"]: r["vec"] for r in back.collect()}
    assert got[1] is None
    assert list(got[0]) == [0.0, None] and list(got[2]) == [2.0, None]

    nested = spark.range(2).select(F.struct("id").alias("s"))
    with pytest.raises(Exception, match="ingest-edge type set"):
        nested.write.format("ecowatt-avro").mode("overwrite").save(
            str(tmp_path / "nested")
        )
