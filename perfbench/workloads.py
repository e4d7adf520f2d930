"""The three workloads: EDF ingest, mart queries and the corpus build.

Each workload is closed loop with one client: the harness issues an op
only after the previous one returned.  A workload builds its inputs from
the seed in ``setup`` and then hands the harness rounds of ops.  An op
returns the items it completed and a ``verify`` callable; the harness
times the op and runs ``verify`` outside the timed span.  ``verify``
checks what the generator fixes (EDF epoch and subject counts), or what
the first round established (the corpus stage accounting, the mart row
counts that ``MartQueries.setup`` took from DuckDB oracles).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from dataclasses import replace

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

import inputs
from oracle import OracleProcess

Verify = Callable[[], None]
Op = Callable[[], tuple[int, Verify]]


class CheckFailed(Exception):
    """An op's output differs from what the workload expects."""


def check_errors() -> tuple[type[Exception], ...]:
    """Exceptions that mean an op's output is wrong, not that it crashed."""
    from sleep_edf_data_pipeline_spark.quality.validate import CheckFailure

    return CheckFailed, CheckFailure


def _expect(what: str, got, want) -> None:
    if got != want:
        raise CheckFailed(f"{what}: got {got!r}, expected {want!r}")


def _parquet_rows(path: str) -> int:
    return sum(
        pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def _row_counter(df: DataFrame, name: str) -> tuple[DataFrame, Observation]:
    """Count rows on the frame's next action, with no extra scan."""
    obs = Observation(name)
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


class Workload:
    name = ""
    item = ""

    def __init__(self, spark, tracer, run_dir: str, seed: int, tiny: bool):
        self.spark, self.tracer, self.run_dir = spark, tracer, run_dir
        self.seed, self.tiny = seed, tiny
        self.sizes: dict[str, object] = {}

    def setup(self) -> None:
        """Build the inputs; check full outputs where an op cannot."""
        raise NotImplementedError

    def round(self, k: int) -> list[Op]:
        """The ops of round ``k``; a round is the workload's unit of work."""
        raise NotImplementedError


class EdfIngest(Workload):
    """One op ingests a batch of EDF nights end to end.

    ``format("edf")`` → ``validate_split`` → ``write_epochs`` →
    ``ModelRunner`` over staging, metrics and the summary and features
    marts, materialized as tables.
    """

    name, item = "edf_ingest", "epochs"
    EPOCHS_PER_NIGHT = 960  # eight hours of 30 s epochs

    def setup(self) -> None:
        from sleep_edf_data_pipeline_spark.sources.edf_datasource import EdfDataSource

        n_files, epochs = (2, 60) if self.tiny else (4, self.EPOCHS_PER_NIGHT)
        self.edf_dir = os.path.join(self.run_dir, "edf")
        with self.tracer.span("sources.write_edf"):
            self.subjects = inputs.make_edf_nights(self.edf_dir, n_files, epochs, self.seed)
        self.n_epochs = n_files * epochs
        self.sizes = {"edf_files": n_files, "epochs_per_file": epochs,
                      "edf_mb": round(sum(os.path.getsize(os.path.join(self.edf_dir, f))
                                          for f in os.listdir(self.edf_dir)) / 1e6, 1)}
        self.spark.dataSource.register(EdfDataSource)
        self.epochs_path = os.path.join(self.run_dir, "epochs")
        self.warehouse = os.path.join(self.run_dir, "warehouse")

    def _models(self):
        from sleep_edf_data_pipeline_spark.plans import sleep_pipeline as sp
        from sleep_edf_data_pipeline_spark.plans.runner import Model
        from sleep_edf_data_pipeline_spark.quality.validate import (
            accepted_range,
            epoch_contract_checks,
            expression_is_true,
        )
        from sleep_edf_data_pipeline_spark.writers.atomic import read_epochs

        return [
            Model("epochs_raw", lambda s: read_epochs(s, self.epochs_path)),
            Model(
                "staging_sleep_data",
                lambda s: sp.staging(s.table("epochs_raw")),
                checks=epoch_contract_checks(),
                unique_keys=[["epoch_id"]],
                depends_on=["epochs_raw"],
            ),
            Model(
                "sleep_metrics",
                lambda s: sp.metrics(s.table("staging_sleep_data")),
                materialization="cached",
                depends_on=["staging_sleep_data"],
            ),
            Model(
                "sleep_summary",
                lambda s: sp.summary(s.table("sleep_metrics")),
                materialization="table",
                checks=[
                    accepted_range("sleep_efficiency", 0.0, 1.0),
                    expression_is_true(
                        "tst_within_period",
                        F.col("total_sleep_minutes") <= F.col("sleep_period_minutes"),
                    ),
                ],
                unique_keys=[["subject_id"]],
                depends_on=["sleep_metrics"],
            ),
            Model(
                "sleep_features",
                lambda s: sp.features(s.table("sleep_metrics")),
                materialization="table",
                depends_on=["sleep_metrics"],
            ),
        ]

    def _ingest(self) -> tuple[int, Verify]:
        from sleep_edf_data_pipeline_spark.plans.runner import ModelRunner
        from sleep_edf_data_pipeline_spark.quality.validate import validate_split
        from sleep_edf_data_pipeline_spark.writers.atomic import write_epochs

        span = self.tracer.span
        with span("sources.edf_read"):
            raw = self.spark.read.format("edf").load(self.edf_dir)
        with span("quality.validate_split"):
            valid, _quarantine = validate_split(raw)
        valid, written = _row_counter(valid, "epochs_written")
        with span("writers.write_epochs"):
            write_epochs(valid, self.epochs_path)
        ModelRunner(self.spark, warehouse_dir=self.warehouse).run(self._models())

        def verify() -> None:
            self.spark.catalog.clearCache()
            _expect("epochs written", written.get["rows"], self.n_epochs)
            parts = sorted(int(d.split("=")[1]) for d in os.listdir(self.epochs_path)
                           if d.startswith("subject_id="))
            _expect("subject partitions", parts, sorted(self.subjects))
            _expect("summary rows", _parquet_rows(f"{self.warehouse}/sleep_summary"), len(self.subjects))
            _expect("feature rows", _parquet_rows(f"{self.warehouse}/sleep_features"), self.n_epochs)

        return self.n_epochs, verify

    def round(self, k: int) -> list[Op]:
        return [self._ingest]


#: Mart-query mix: the sleep spine, the served lookup mart and a few
#: relational/event queries.  The PQ/IVF queries stay out: they share a
#: process-global codebook memo, so later reps would time a cache.
MART_QUERIES = (
    "staging_cast",
    "moving_average",
    "gaps_islands",
    "episode_detection",
    "episode_ranking",
    "episode_bounds",
    "sleep_metrics",
    "sleep_summary",
    "sleep_features",
    "subject_lookup",
    "product_profit",
    "volume_shipping",
    "session_window_agg",
    "asof_last_order",
)


class MartQueries(Workload):
    """One op is one registered query: its constructor plus a noop write."""

    name, item = "mart_queries", "queries"

    def setup(self) -> None:
        from sleep_edf_data_pipeline_spark.registry import collect

        sf = 0.001 if self.tiny else 0.1
        self.sf_dir = os.path.join(self.run_dir, "tables")
        with self.tracer.span("bench.inputs"):
            rows = inputs.make_tables(self.sf_dir, sf, self.seed)
        self.sizes = {"sf": sf, "events": rows["events"], "lineitem": rows["lineitem"]}
        queries, oracles = collect()
        self.queries = {n: queries[n] for n in MART_QUERIES}
        oracle_sql = {n: oracles[n] for n in MART_QUERIES}
        with self.tracer.span("bench.oracle_check"), OracleProcess(
            self.sf_dir, list(rows), oracle_sql
        ) as oracle:
            for name, fn in self.queries.items():
                oracle.submit(name, fn(self.spark, self.sf_dir).toPandas())
                self.spark.catalog.clearCache()
            verdicts = oracle.verdicts()
        if verdicts["mismatch"]:
            raise CheckFailed("; ".join(verdicts["mismatch"]))
        self.expected_rows = verdicts["rows"]
        self.order = np.random.default_rng([self.seed, 3])

    def _query(self, name: str) -> Op:
        def op() -> tuple[int, Verify]:
            with self.tracer.span("queries.construct"):
                df = self.queries[name](self.spark, self.sf_dir)
            df, counted = _row_counter(df, "query_rows")
            with self.tracer.span("queries.exec"):
                df.write.format("noop").mode("overwrite").save()

            def verify() -> None:
                self.spark.catalog.clearCache()
                _expect(f"{name} rows", counted.get["rows"], self.expected_rows[name])

            return 1, verify

        return op

    def round(self, k: int) -> list[Op]:
        names = list(self.queries)
        return [self._query(names[i]) for i in self.order.permutation(len(names))]


class CorpusBuild(Workload):
    """One op is one ``build_corpus`` into a fresh output directory."""

    name, item = "corpus_build", "documents"

    def setup(self) -> None:
        sf = 0.001 if self.tiny else 0.1
        self.sf_dir = os.path.join(self.run_dir, "tables")
        with self.tracer.span("bench.inputs"):
            rows = inputs.make_tables(self.sf_dir, sf, self.seed)
        self.n_docs = rows["documents"]
        self.sizes = {"sf": sf, "documents": self.n_docs}
        self.out_root = os.path.join(self.run_dir, "corpus")
        # The first build's stage accounting, which every later build of
        # the same input must reproduce.
        self.expected_audit = None

    def _build(self, k: int) -> tuple[int, Verify]:
        from sleep_edf_data_pipeline_spark.plans.corpus_pipeline import build_corpus

        out = os.path.join(self.out_root, str(k))
        with self.tracer.span("plans.corpus_pipeline.build_corpus"):
            audit, _ = build_corpus(self.spark, self.sf_dir, out)

        def verify() -> None:
            got = {r["stage"]: r["rows"] for r in audit.collect()}
            shards = [f for _, _, fs in os.walk(os.path.join(out, "shards"))
                      for f in fs if f.endswith(".json")]
            shutil.rmtree(out, ignore_errors=True)
            self.spark.catalog.clearCache()
            _expect("raw documents", got.get("corpus_raw"), self.n_docs)
            if not shards or not got.get("corpus_split"):
                raise CheckFailed("corpus build wrote no shards")
            if self.expected_audit is None:
                self.expected_audit = got
            _expect("stage accounting", got, self.expected_audit)

        return self.n_docs, verify

    def round(self, k: int) -> list[Op]:
        return [lambda: self._build(k)]


WORKLOADS = {w.name: w for w in (EdfIngest, MartQueries, CorpusBuild)}


def instrument(tracer) -> None:
    """Wrap the engine calls that run inside a workload's ops in spans.

    Used only for the traced run: spans around ``ModelRunner.run``, each
    model's build (with any job it runs eagerly), the runner's check and
    table-write calls, the sleep-pipeline model functions, mart
    serving and the JSONL shard export.  A runner table write is the
    interval between ``observed_checks`` returning and ``assert_observed``
    being called, which brackets exactly the materializing write.
    """
    from sleep_edf_data_pipeline_spark.plans import corpus_pipeline, runner
    from sleep_edf_data_pipeline_spark.plans import sleep_pipeline as sp
    from sleep_edf_data_pipeline_spark.queries import serving

    for fn in ("staging", "metrics", "summary", "features"):
        setattr(sp, fn, tracer.wrap(f"plans.sleep_pipeline.{fn}", getattr(sp, fn)))
    run = tracer.wrap("plans.runner.run", runner.ModelRunner.run)

    def traced_run(self, models):
        return run(self, [replace(m, build=tracer.wrap("plans.runner.build", m.build))
                          for m in models])

    runner.ModelRunner.run = traced_run
    runner.assert_checks = tracer.wrap("quality.assert_checks", runner.assert_checks)
    observed_checks, assert_observed = runner.observed_checks, runner.assert_observed

    def traced_observed_checks(*args, **kwargs):
        with tracer.span("quality.observed_checks"):
            out = observed_checks(*args, **kwargs)
        tracer.start("writers.table_write")
        return out

    def traced_assert_observed(*args, **kwargs):
        tracer.finish(tracer.open_span("writers.table_write"))
        with tracer.span("quality.assert_observed"):
            return assert_observed(*args, **kwargs)

    runner.observed_checks = traced_observed_checks
    runner.assert_observed = traced_assert_observed
    corpus_pipeline.export_jsonl_shards = tracer.wrap(
        "writers.export_jsonl_shards", corpus_pipeline.export_jsonl_shards
    )
    serving.serve = tracer.wrap("marts.serve", serving.serve)
