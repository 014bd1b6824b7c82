"""Reference-shaped CSV scans (SURVEY §2.1 S1–S3).

Three raw inputs, each with its own parsing quirk:
  - EV population: ';'-delimited, headers with unit suffixes and a
    trailing anonymous column (reference main.py:21)
  - electricity:   ';'-delimited, BOM on the first header cell, wide
    fiscal-year columns containing dotted pseudo-numbers (main.py:25)
  - pollution:     ','-delimited, THREE header rows (real header is the
    3rd line), day-first dates, empty cells (main.py:29-35)

All columns are read as strings and coerced explicitly (F4 try_cast) —
schema inference on dirty CSV is exactly the nondeterminism a
100 TB pipeline cannot afford; the contract lives in the transforms.

Building a reader launches no Spark job: the header line is read on the
driver through the session's Hadoop ``FileSystem`` (a few bytes, not a
scan), and the CSV is then read with an explicit all-string schema named
from it, the way Spark's own ``header=True`` names columns. Every scan
stays a lazy file scan that the plan guard can see: no RDD, no Python
per row.
"""

from __future__ import annotations

import csv

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ecowatt_etl_spark.functions.cleaning import normalize_headers

# what Java's String.trim removes: Spark's CSV reader skips a line that
# is empty after it, and so does the header read below
_TRIMMED = "".join(map(chr, range(0x21)))


def _head_lines(spark: SparkSession, path: str, n: int) -> list[str]:
    """The first ``n`` non-blank lines of the file at ``path``, read
    through the session's Hadoop FileSystem (no Spark job). A leading
    UTF-8 BOM is dropped, as Spark's line reader drops it."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    reader = jvm.java.io.BufferedReader(jvm.java.io.InputStreamReader(fs.open(jpath), "UTF-8"))
    lines: list[str] = []
    try:
        line = reader.readLine()
        if line is not None:
            line = line.removeprefix("\ufeff")
        while line is not None and len(lines) < n:
            if line.strip(_TRIMMED):
                lines.append(line)
            line = reader.readLine()
    finally:
        reader.close()
    if len(lines) < n:
        raise ValueError(f"{path}: expected {n} header line(s), found {len(lines)}")
    return lines


def _string_schema(header: str, sep: str) -> T.StructType:
    """All-string schema for a CSV header line, named as Spark's
    ``header=True`` names columns: a blank name becomes ``_c{i}``, and a
    name repeated (case-insensitively) gets its position appended."""
    names = next(csv.reader([header], delimiter=sep))
    lower = [n.lower() for n in names if n]
    repeated = {n for n in lower if lower.count(n) > 1}
    return T.StructType(
        [
            T.StructField(
                f"_c{i}" if not n else f"{n}{i}" if n.lower() in repeated else n,
                T.StringType(),
            )
            for i, n in enumerate(names)
        ]
    )


def _read_csv(spark: SparkSession, path: str, sep: str) -> DataFrame:
    """CSV whose first non-blank line is its header, as all strings."""
    schema = _string_schema(_head_lines(spark, path, 1)[0], sep)
    return spark.read.options(header=True, sep=sep).schema(schema).csv(path)


def read_ev_population(spark: SparkSession, path: str) -> DataFrame:
    """EV population scan: ';' delimiter + header normalization.

    Normalized headers expose FUEL_TYPE / LISTED_PRICE / RANGE exactly
    as the reference's transform layer addresses them (main.py:49,58,62).
    """
    return normalize_headers(_read_csv(spark, path, ";"))


def read_electricity(spark: SparkSession, path: str) -> DataFrame:
    """Electricity scan: ';' delimiter; BOM + whitespace stripped from
    headers (reference main.py:88). Fiscal-year columns stay strings —
    the dotted pseudo-numbers ('8.379.343.471') in unused years must
    not poison inference."""
    return normalize_headers(_read_csv(spark, path, ";"))


def read_pollution(spark: SparkSession, path: str, skip_rows: int = 2) -> DataFrame:
    """Pollution scan: skip 2 title rows, 3rd line is the header
    (reference main.py:31-32, pandas ``header=2``: blank lines are not
    counted).

    Spark's CSV reader can only drop one header line, so the file is
    read as text lines: the title rows and the header are dropped by
    comparing each line with those ``skip_rows + 1`` lines as read on
    the driver, blank lines are dropped as the CSV reader drops them,
    and ``from_csv`` parses the rest with the header's all-string
    schema. As with Spark's own header filter on in-memory CSV lines, a
    data line identical to one of the dropped lines is dropped too.
    """
    head = _head_lines(spark, path, skip_rows + 1)
    schema = _string_schema(head[-1], ",")
    ddl = ", ".join(f"`{f.name.replace('`', '``')}` STRING" for f in schema.fields)
    lines = spark.read.text(path)
    rows = lines.filter(F.col("value").rlike(r"[^\x00-\x20]") & ~F.col("value").isin(head))
    df = rows.select(F.from_csv("value", ddl).alias("row")).select("row.*")
    return df.toDF(*[c.strip() for c in df.columns])
