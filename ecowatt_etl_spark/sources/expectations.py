"""Write-time data-quality gate: refuse to publish a frame that
violates its declared expectations.

q152's DQ audit reports violations after the fact; production
pipelines also need the WRITE-side contract — the sink equivalent of
plans/guard.py's admission control: a batch that breaks an invariant
(null keys, out-of-range money, dangling foreign keys) must fail the
job loudly BEFORE it lands where downstream readers trust it.

The gate is write-audit-publish (q244's Observation pattern): the
frame is written once to a staging location with its row count and
the expectation counts riding the write itself, so it audits exactly
the rows that land at no extra scan, and only a clean batch is
published into the target by rename. The paper's load publishes its
two facts through it (``write_star_schema(quality_gate=True)``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class ExpectationError(ValueError):
    """Raised when a frame violates its write expectations or is empty."""


def _hadoop_fs(df: DataFrame, path: str):
    """(FileSystem, Path) for ``path`` via the session's Hadoop conf —
    the same resolution the writers use, so rename/delete act on the
    filesystem the data actually landed on (local, HDFS, s3a...)."""
    spark = df.sparkSession
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def write_checked(
    df: DataFrame,
    path: str,
    checks: dict[str, Column],
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: Sequence[str] = (),
) -> dict[str, int]:
    """Write-audit-publish ``df`` into ``path``: ``checks`` maps a name
    to a per-row boolean Column that must hold. Returns the report
    ``{"n_rows": n, <check>: violations, …}`` of the rows that landed;
    raises :class:`ExpectationError` naming each failed metric as
    ``name=value`` — a non-zero check count, or ``n_rows=0``, since an
    empty overwrite would replace the previous generation with
    nothing — and then ``path`` is untouched.

    The frame is written ONCE to a sibling staging location with the
    counts riding the write as Observation accumulators — no extra
    scan, no executor memory pinned. Only a clean staging directory is
    published into ``path`` by filesystem rename (atomic on HDFS-like
    stores); a violating batch dies in staging. ``partition_by`` is
    the writer's ``partitionBy``; a CSV batch keeps a header row."""
    from uuid import uuid4

    from pyspark.sql import Observation

    if mode not in ("overwrite", "append"):
        raise ValueError(f"write_checked supports overwrite/append, got {mode!r}")
    obs = Observation()
    staging = f"{path}__staging_{uuid4().hex}"
    # three-valued logic matters here: a NULL-evaluating condition is
    # NOT TRUE, so it must count as a violation — when(cond, 0)
    # .otherwise(1) sends both FALSE and NULL to 1, where the naive
    # when(~cond, 1) form would silently wave NULLs through (the exact
    # trap q257 pins)
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        *[
            F.sum(F.when(cond, 0).otherwise(1)).cast("long").alias(name)
            for name, cond in checks.items()
        ],
    )
    fs, _ = _hadoop_fs(df, path)
    jvm_path = df.sparkSession._jvm.org.apache.hadoop.fs.Path
    st_path = jvm_path(staging)

    # Hadoop FileSystem.rename reports most failures (permissions,
    # object-store quirks, races) by returning FALSE, not by raising —
    # an unchecked rename would let the cleanup below destroy the only
    # good copy of the batch while write_checked returns a clean report.
    def _publish_rename(src, dst) -> None:
        if not fs.rename(src, dst):
            raise OSError(
                f"FileSystem.rename({src}, {dst}) returned false during "
                f"publish of {path}; the verified batch is preserved at "
                f"{staging} for manual recovery"
            )

    def _move_into(src, dst) -> None:
        # part filenames embed the job UUID, so batches never collide;
        # a partition directory the target already has is merged into
        for status in fs.listStatus(src):
            name = status.getPath().getName()
            if name.startswith("_"):  # _SUCCESS etc.
                continue
            into = jvm_path(dst, name)
            if status.isDirectory() and fs.exists(into):
                _move_into(status.getPath(), into)
            else:
                _publish_rename(status.getPath(), into)

    # keep_staging: set once the batch is audited clean, so a failed
    # PUBLISH preserves the data; cleanup still removes staging for
    # write failures and expectation violations (a bad batch dies in
    # staging by design) and after a confirmed publish (leftovers).
    keep_staging = False
    try:
        writer = observed.write.mode("overwrite").format(fmt)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        if fmt == "csv":
            writer = writer.option("header", True)
        writer.save(staging)
        metrics = obs.get
        report = {name: metrics[name] or 0 for name in ("n_rows", *checks)}
        failed = [f"{k}={report[k]}" for k in checks if report[k]]
        if report["n_rows"] == 0:
            failed.insert(0, "n_rows=0")
        if failed:
            raise ExpectationError(
                f"refusing to publish {path}: {', '.join(failed)} (a check "
                "counts rows failing its per-row condition; the staged "
                "batch was discarded)"
            )
        keep_staging = True
        target = jvm_path(path)
        if mode == "overwrite":
            # Rename the old target ASIDE (never delete-then-rename):
            # if the publish rename fails mid-way, the previous good
            # batch still exists under the retired name and is restored.
            retired = jvm_path(f"{path}__retired_{uuid4().hex}")
            had_old = fs.exists(target)
            if had_old:
                _publish_rename(target, retired)
            try:
                _publish_rename(st_path, target)
            except BaseException:
                if had_old:
                    fs.rename(retired, target)  # best-effort restore
                raise
            keep_staging = False
            if had_old:
                fs.delete(retired, True)
        elif not fs.exists(target):
            _publish_rename(st_path, target)
            keep_staging = False
        else:
            _move_into(st_path, target)
            keep_staging = False  # only _SUCCESS-style markers remain
        return report
    finally:
        if not keep_staging and fs.exists(st_path):
            fs.delete(st_path, True)
