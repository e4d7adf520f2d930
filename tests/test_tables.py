"""``tables.read_parquet``: the footer schema equals Spark's own inference."""

from __future__ import annotations

import glob
import os
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from sleep_edf_data_pipeline_spark.sources.seed import seed_epochs
from sleep_edf_data_pipeline_spark.tables import read_parquet, table
from sleep_edf_data_pipeline_spark.writers.atomic import write_epochs


def _assert_same_read(spark, path: str) -> None:
    want = spark.read.parquet(path)
    got = read_parquet(spark, path)
    assert got.schema == want.schema, path
    assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect())), path


def test_test_tables_match_spark_inference(spark, sf_dir):
    paths = sorted(glob.glob(os.path.join(sf_dir, "*.parquet")))
    assert len(paths) == 10
    for path in paths:
        _assert_same_read(spark, path)


def test_spark_written_tables_match_spark_inference(spark, tmp_path):
    # A documents table whose doc_id is a string, unlike the test corpus.
    docs = spark.createDataFrame(
        [("d1", "some text", "en"), ("d2", None, "fr")],
        "doc_id string, text string, lang string",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    # Non-nullable top-level and nested fields, arrays, maps, structs.
    nested = spark.range(4).select(
        F.col("id"),
        F.lit("x").alias("tag"),
        F.struct(F.col("id").alias("a"), F.array(F.col("id")).alias("b")).alias("s"),
        F.create_map(F.lit("k"), F.col("id")).alias("m"),
        F.col("id").cast("decimal(10,2)").alias("dec"),
        F.timestamp_seconds(F.col("id")).alias("ts"),
    )
    assert not nested.schema["tag"].nullable
    nested.write.parquet(str(tmp_path / "nested"))
    # A subject-partitioned epoch table.
    write_epochs(seed_epochs(spark, n_subjects=3), str(tmp_path / "epochs"))
    for name in ("documents.parquet", "nested", "epochs"):
        _assert_same_read(spark, str(tmp_path / name))


def test_nanosecond_events_scan_floor_truncated(spark, tmp_path):
    ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999, None]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2, 3], pa.int64()),
                "ts": pa.array(ns, pa.timestamp("ns")),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    _assert_same_read(spark, str(tmp_path / "events.parquet"))
    events = table(spark, str(tmp_path), "events")
    assert dict(events.dtypes)["ts"] == "timestamp_ntz"
    got = {r["event_id"]: r["ts"] for r in events.collect()}
    want = {
        i: None if v is None else datetime(1970, 1, 1) + timedelta(microseconds=v // 1000)
        for i, v in zip((1, 2, 3), ns)
    }
    assert got == want


def test_directory_without_data_file_raises_like_spark(spark, tmp_path):
    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "_SUCCESS").touch()
    with pytest.raises(AnalysisException) as want:
        spark.read.parquet(str(empty))
    with pytest.raises(type(want.value)) as got:
        read_parquet(spark, str(empty))
    assert got.value.getCondition() == want.value.getCondition()
