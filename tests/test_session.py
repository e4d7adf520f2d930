"""Session defaults: a repeated plan is compiled once per JVM, a query
constructor launches no job, and errors keep their class."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from pyspark.errors import AnalysisException, NumberFormatException
from pyspark.sql import functions as F

from sleep_edf_data_pipeline_spark.registry import collect
from sleep_edf_data_pipeline_spark.tables import table

_WORKLOADS = Path(__file__).resolve().parents[1] / "perfbench" / "workloads.py"


def _mart_queries() -> tuple[str, ...]:
    """The benchmark's ``MART_QUERIES``, read without importing perfbench."""
    for node in ast.parse(_WORKLOADS.read_text()).body:
        if isinstance(node, ast.Assign) and getattr(node.targets[0], "id", None) == "MART_QUERIES":
            return ast.literal_eval(node.value)
    raise AssertionError(f"MART_QUERIES not found in {_WORKLOADS}")


def test_repeated_mart_round_compiles_nothing(spark, sf_dir):
    """A second identical round of the mart queries hits the generated-class
    cache for every plan.  At Spark's default cache size (100 classes) the
    round evicts its own classes and the repeat recompiles about 275."""
    queries, _ = collect()
    names = _mart_queries()
    assert len(names) == 14
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run_round() -> None:
        for name in names:
            queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()

    run_round()
    before = compiles.getCount()
    run_round()
    assert compiles.getCount() - before == 0


def test_mart_query_constructors_launch_no_job(spark, sf_dir):
    """Building a query plan runs nothing: parquet schemas come from file
    footers on the driver, not from Spark's one-task inference job.  The
    first pass builds the ``subject_lookup`` mart, which is a job."""
    queries, _ = collect()
    names = _mart_queries()
    sc = spark.sparkContext
    for name in names:
        queries[name](spark, sf_dir)
    try:
        for name in names:
            sc.setJobGroup(f"construct-{name}", f"construct {name}")
            queries[name](spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    launched = {n: list(tracker.getJobIdsForGroup(f"construct-{n}")) for n in names}
    assert launched == {n: [] for n in names}


def test_errors_keep_their_class_without_origin_capture(spark, sf_dir):
    """With ``spark.python.sql.dataFrameDebugging.enabled`` off, only the
    Python call-site block leaves the error text; class and condition stay."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    orders = table(spark, sf_dir, "orders")
    with pytest.raises(AnalysisException) as unresolved:
        orders.select(F.col("o_no_such_column"))
    assert unresolved.value.getCondition() == "UNRESOLVED_COLUMN.WITH_SUGGESTION"
    bad_cast = spark.createDataFrame([("12",), ("x1",)], "s string").select(
        F.col("s").cast("int")
    )
    with pytest.raises(NumberFormatException) as cast:
        bad_cast.collect()
    assert cast.value.getCondition() == "CAST_INVALID_INPUT"
