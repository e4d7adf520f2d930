"""Fail-fast model-DAG runner (SURVEY §2.4 V7, §3.2).

The reference's ``dbt build`` interleaves each model with its tests and
stops dependents on failure (``pipeline.py:156-173``).  Here a model is
a pure DataFrame function plus optional checks; the runner materializes
nodes topologically and gates every downstream node on its parents'
checks.

Materialization mirrors dbt configs: "view" → temp view (recomputed by
Catalyst at each use), "table" → persisted parquet + re-registered
(marts).  The shared intermediate is cached when two marts consume it
(the reference gets this for free inside one DuckDB process; Spark
needs the explicit persist to avoid recompute).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..quality.validate import (
    Check,
    assert_checks,
    assert_observed,
    observed_checks,
)
from ..tables import read_parquet


@dataclass
class Model:
    name: str
    build: Callable[[SparkSession], DataFrame]
    materialization: str = "view"  # "view" | "table" | "cached"
    checks: Sequence[Check] = field(default_factory=tuple)
    unique_keys: Sequence[Sequence[str]] = field(default_factory=tuple)
    depends_on: Sequence[str] = field(default_factory=tuple)


class ModelRunner:
    """Topological, fail-fast execution of a model DAG."""

    def __init__(self, spark: SparkSession, warehouse_dir: str | None = None):
        self.spark = spark
        self.warehouse_dir = warehouse_dir
        self.built: dict[str, DataFrame] = {}

    def run(self, models: Sequence[Model]) -> dict[str, DataFrame]:
        by_name = {m.name: m for m in models}
        done: set[str] = set()

        def build(name: str) -> None:
            if name in done:
                return
            m = by_name[name]
            for dep in m.depends_on:
                build(dep)
            df = m.build(self.spark)
            if m.materialization == "table" and self.warehouse_dir:
                # Row-wise checks ride the materializing write itself
                # (Dataset.observe) — the validation pass costs zero
                # extra scans; only uniqueness still needs its own
                # (grouped) aggregation.
                obs_df, obs = observed_checks(df, m.checks, name=m.name)
                path = f"{self.warehouse_dir}/{m.name}"
                obs_df.write.mode("overwrite").parquet(path)
                assert_observed(obs, context=f" in {m.name}")
                df = read_parquet(self.spark, path)
                df.createOrReplaceTempView(m.name)
                if m.unique_keys:
                    assert_checks(df, (), m.unique_keys)
                self.built[m.name] = df
                done.add(name)
                return
            elif m.materialization == "cached":
                df = df.persist()
            df.createOrReplaceTempView(m.name)
            # V7: a node's checks run before any dependent builds.
            if m.checks or m.unique_keys:
                assert_checks(df, m.checks, m.unique_keys)
            self.built[m.name] = df
            done.add(name)

        for m in models:
            build(m.name)
        return self.built
