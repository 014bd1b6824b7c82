"""Timestamp physical-shape guards.

The driver regenerates the testdata between rounds and events.ts has
historically shipped in THREE parquet physical shapes: TIMESTAMP(NANOS)
(rounds 1-2), tz-less TIMESTAMP(MICROS) → Spark 4 infers TIMESTAMP_NTZ
(round 3+), and adjusted TIMESTAMP(MICROS). The round-2 bench crash was
exactly this drift reaching an unguarded unix_micros. These tests pin
the cure: sources/tables.py::load_table normalizes ALL THREE shapes to
the same UTC TIMESTAMP(micros), so the next testdata regeneration
cannot resurface the crash class; and the streaming reader REFUSES a
replay directory that mixes shapes across files (one stream-wide
normalization branch cannot serve two shapes).
"""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

_ROWS = [
    (1, dt.datetime(2024, 3, 1, 12, 0, 1, 500000), 10, "view", 1.5, "{}"),
    (2, dt.datetime(2024, 3, 1, 12, 30, 2, 250000), 11, "click", 2.5, "{}"),
    (3, dt.datetime(2024, 3, 2, 8, 15, 3, 0), 10, "view", 0.5, "{}"),
]

_SHAPES = {
    "nanos": pa.timestamp("ns"),
    "ntz_micros": pa.timestamp("us"),
    "adjusted_micros": pa.timestamp("us", tz="UTC"),
}


def _write_events(path: str, ts_type: pa.DataType, rows=_ROWS) -> None:
    cols = list(zip(*rows))
    table = pa.table(
        {
            "event_id": pa.array(cols[0], pa.int64()),
            "ts": pa.array(cols[1], ts_type),
            "user_id": pa.array(cols[2], pa.int64()),
            "event_type": pa.array(cols[3], pa.string()),
            "value": pa.array(cols[4], pa.float64()),
            "props": pa.array(cols[5], pa.string()),
        }
    )
    pq.write_table(table, path)


@pytest.mark.parametrize("shape", sorted(_SHAPES))
def test_load_table_normalizes_every_historical_ts_shape(spark, tmp_path, shape):
    """events.ts must arrive as a UTC TIMESTAMP(micros) with identical
    VALUES no matter which physical shape the producer wrote."""
    from ecowatt_etl_spark.sources.tables import load_table

    _write_events(str(tmp_path / "events.parquet"), _SHAPES[shape])
    df = load_table(spark, str(tmp_path), "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType), (
        f"{shape}: ts must normalize to TIMESTAMP, got {df.schema['ts'].dataType}"
    )
    got = [
        r[0]
        for r in df.selectExpr("date_format(ts, 'yyyy-MM-dd HH:mm:ss.SSS') AS s")
        .orderBy("s")
        .collect()
    ]
    assert got == [
        "2024-03-01 12:00:01.500",
        "2024-03-01 12:30:02.250",
        "2024-03-02 08:15:03.000",
    ], f"{shape}: values drifted under normalization"


@pytest.mark.parametrize("shape", ["nanos", "ntz_micros"])
def test_load_table_guards_order_lineitem_date_columns(spark, tmp_path, shape):
    """o_orderdate / l_shipdate ride the same guard: the nanos shape
    must surface as a usable chronological type, not a raw long."""
    from ecowatt_etl_spark.sources.tables import load_table

    table = pa.table(
        {
            "o_orderkey": pa.array([1, 2], pa.int64()),
            "o_orderdate": pa.array(
                [dt.datetime(1995, 1, 1), dt.datetime(1996, 6, 15)], _SHAPES[shape]
            ),
        }
    )
    pq.write_table(table, str(tmp_path / "orders.parquet"))
    df = load_table(spark, str(tmp_path), "orders")
    assert not isinstance(df.schema["o_orderdate"].dataType, T.LongType)
    got = sorted(
        r[0]
        for r in df.selectExpr(
            "date_format(o_orderdate, 'yyyy-MM-dd') AS d"
        ).collect()
    )
    assert got == ["1995-01-01", "1996-06-15"]


def test_stream_reader_handles_each_shape(spark, tmp_path):
    """read_events_stream must serve every uniform shape (the batch
    wrapper's contract, stream-side)."""
    from ecowatt_etl_spark.streaming.events_stream import read_events_stream

    for shape, ts_type in _SHAPES.items():
        d = tmp_path / shape
        d.mkdir()
        _write_events(str(d / "events.parquet"), ts_type)
        stream = read_events_stream(spark, str(d))
        assert isinstance(stream.schema["ts"].dataType, T.TimestampType), shape


def test_stream_reader_refuses_mixed_shape_replay_dir(spark, tmp_path):
    """A replay dir mixing physical ts shapes across chunk files must
    fail LOUDLY up front — one stream-wide normalization branch would
    silently mis-normalize half the files."""
    from ecowatt_etl_spark.streaming.events_stream import read_events_stream

    _write_events(str(tmp_path / "events-0.parquet"), _SHAPES["nanos"])
    _write_events(str(tmp_path / "events-1.parquet"), _SHAPES["ntz_micros"])
    with pytest.raises(ValueError, match="mixed ts physical shapes"):
        read_events_stream(spark, str(tmp_path), glob="events-*.parquet")


def test_stream_reader_memoises_ts_inference_per_file_version(spark, tmp_path):
    """A warm read_events_stream launches no Spark job; a replay file
    rewritten in place with another ts shape is inferred again, not
    served the old shape's normalization."""
    from ecowatt_etl_spark.streaming.events_stream import read_events_stream, run_to_completion
    from tests.conftest import jobs_in_group

    path = str(tmp_path / "events.parquet")
    _write_events(path, _SHAPES["nanos"])
    _, cold = jobs_in_group(spark, lambda: read_events_stream(spark, str(tmp_path)))
    assert cold >= 1  # inference is a job: the check below can see one
    _, warm = jobs_in_group(spark, lambda: read_events_stream(spark, str(tmp_path)))
    assert warm == 0

    _write_events(path, _SHAPES["ntz_micros"])
    stream = read_events_stream(spark, str(tmp_path)).selectExpr(
        "date_format(ts, 'yyyy-MM-dd HH:mm:ss.SSS') AS s"
    )
    got = sorted(r[0] for r in run_to_completion(stream, "ts_memo_rewrite").collect())
    assert got == [
        "2024-03-01 12:00:01.500",
        "2024-03-01 12:30:02.250",
        "2024-03-02 08:15:03.000",
    ]


def test_documents_stream_reader_memoises_schema_inference(spark, tmp_path):
    """read_documents_stream infers the documents schema once per file
    version, as read_events_stream does: its second call launches no
    Spark job."""
    from ecowatt_etl_spark.streaming.events_stream import read_documents_stream
    from tests.conftest import jobs_in_group

    pq.write_table(
        pa.table({"doc_id": [1, 2], "text": ["a b", "c"]}), str(tmp_path / "documents.parquet")
    )
    cold_df, cold = jobs_in_group(spark, lambda: read_documents_stream(spark, str(tmp_path)))
    assert cold >= 1  # inference is a job: the check below can see one
    warm_df, warm = jobs_in_group(spark, lambda: read_documents_stream(spark, str(tmp_path)))
    assert warm == 0
    assert warm_df.isStreaming and warm_df.schema == cold_df.schema
