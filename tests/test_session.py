"""Session defaults: a repeated plan is compiled once per JVM."""

from __future__ import annotations

import ast
from pathlib import Path

from sleep_edf_data_pipeline_spark.registry import collect

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
