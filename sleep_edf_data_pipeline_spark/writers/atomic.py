"""Warehouse sinks (SURVEY §2.1 S5, S7, S9-S11).

The reference's transactional per-subject DELETE+INSERT
(``warehouse/duckdb_client.py:100-111``) maps to Spark's dynamic
partition overwrite on a subject-partitioned parquet table: only the
partitions present in the incoming frame are replaced, each swap is
atomic at partition granularity, and other subjects' data is untouched.
Append mode maps directly.  (On Delta/Iceberg the same API becomes
``replaceWhere`` with full ACID; plain parquet is the
lowest-common-denominator this environment supports.)

The error sink is the reference's INGESTION_ERRORS append
(``duckdb_client.py:123-143``): uuid + current_timestamp defaults,
append-only.
"""

from __future__ import annotations

import traceback

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import ERROR_SCHEMA
from ..tables import read_parquet


def write_epochs(
    df: DataFrame,
    path: str,
    overwrite: bool = True,
    partition_col: str = "subject_id",
) -> None:
    """S5/S7: partitioned epoch sink.

    ``overwrite=True`` replaces ONLY the subject partitions present in
    ``df`` (dynamic partition overwrite — per-subject idempotent
    re-ingest); ``overwrite=False`` appends.
    """
    spark = df.sparkSession
    if overwrite:
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            df.write.mode("overwrite").partitionBy(partition_col).parquet(path)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    else:
        df.write.mode("append").partitionBy(partition_col).parquet(path)


def read_epochs(spark: SparkSession, path: str) -> DataFrame:
    """S6: schema-preserving scan of the partitioned epoch table."""
    return read_parquet(spark, path)


def error_row(
    spark: SparkSession,
    subject_id: int | None,
    error: BaseException | str,
    error_type: str | None = None,
) -> DataFrame:
    """Normalize a failure into one INGESTION_ERRORS-shaped row (S10).

    Mirrors the reference's describe_error (``pipeline.py:23-37``):
    type, message, stack trace; uuid + timestamp are engine defaults.
    """
    if isinstance(error, BaseException):
        etype = error_type or type(error).__name__
        message = str(error)
        stack = "".join(
            traceback.format_exception(type(error), error, error.__traceback__)
        )
    else:
        etype = error_type or "Error"
        message = str(error)
        stack = None
    row = spark.createDataFrame(
        [(subject_id, etype, message, stack)],
        "subject_id int, error_type string, error_message string, stack_trace string",
    )
    return row.select(
        F.expr("uuid()").alias("error_id"),
        "subject_id",
        "error_type",
        "error_message",
        "stack_trace",
        F.current_timestamp().alias("occurred_at"),
    )


def append_error(
    spark: SparkSession,
    path: str,
    subject_id: int | None,
    error: BaseException | str,
    error_type: str | None = None,
) -> None:
    """S10: append one error row to the observability table."""
    error_row(spark, subject_id, error, error_type).write.mode("append").parquet(path)


def recent_errors(spark: SparkSession, path: str, limit: int = 20) -> DataFrame:
    """Q6: newest-first error listing."""
    return (
        spark.read.schema(ERROR_SCHEMA)
        .parquet(path)
        .orderBy(F.desc("occurred_at"))
        .limit(limit)
    )


def foreach_batch_upsert(path: str, keys: list[str]):
    """Streaming upsert sink: merge each micro-batch into a keyed table.

    Returns a ``foreachBatch`` callback implementing last-write-wins on
    ``keys``: rows already present whose key reappears in the batch are
    replaced.  This is the incremental-materialization pattern (the
    streaming analog of S7's per-subject overwrite): read current state,
    anti-join out superseded rows, union the batch, write to a temp dir,
    swap.  The swap is only rename-atomic on a local/HDFS-like
    filesystem — the production target is Delta/Iceberg ``MERGE INTO``,
    which makes the same callback a one-liner and adds snapshot
    isolation; the batch-side plan (anti-join + union) is identical.

    The anti-join broadcasts the batch's key set when small — the common
    case, since a micro-batch is bounded by the trigger interval while
    the table grows without bound.
    """
    import os
    import shutil

    def _upsert(batch: DataFrame, _batch_id: int) -> None:
        spark = batch.sparkSession
        if os.path.exists(path):
            existing = read_parquet(spark, path)
            merged = existing.join(
                F.broadcast(batch.select(*keys).distinct()), keys, "left_anti"
            ).unionByName(batch)
        else:
            merged = batch
        tmp = f"{path}.__tmp__"
        merged.write.mode("overwrite").parquet(tmp)
        if os.path.exists(path):
            shutil.rmtree(path)
        os.rename(tmp, path)

    return _upsert
