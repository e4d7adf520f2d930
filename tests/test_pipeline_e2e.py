"""End-to-end: seed corpus → staging → metrics → marts, with the
fail-fast runner and semantic assertions on episode scoping.

The seed corpus deliberately contains a daytime nap (SURVEY §5.5): a
regression that scopes metrics to the whole recording instead of the
main sleep episode fails the night > nap assertions.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sleep_edf_data_pipeline_spark.plans import sleep_pipeline as sp
from sleep_edf_data_pipeline_spark.plans.runner import Model, ModelRunner
from sleep_edf_data_pipeline_spark.quality.validate import (
    CheckFailure,
    accepted_range,
    epoch_contract_checks,
    expression_is_true,
    validate_split,
)
from sleep_edf_data_pipeline_spark.schema import GAP_EPOCHS
from sleep_edf_data_pipeline_spark.sources.seed import seed_epochs


@pytest.fixture(scope="module")
def marts(spark):
    epochs = seed_epochs(spark, n_subjects=3)
    staged = sp.staging(epochs)
    metrics = sp.metrics(staged, gap_epochs=GAP_EPOCHS)
    summary = sp.summary(metrics)
    features = sp.features(metrics)
    return epochs, staged, metrics.cache(), summary, features


def test_staging_key_unique(marts):
    _, staged, _, _, _ = marts
    n = staged.count()
    assert staged.select("epoch_id").distinct().count() == n


def test_episode_scoping_excludes_nap(marts):
    """The main sleep episode must be the night, not the nap: total
    sleep time is > 2 h, and the sleep period is well under the whole
    recording."""
    _, _, _, summary, _ = marts
    rows = summary.collect()
    assert len(rows) == 3
    for r in rows:
        assert r["total_sleep_minutes"] > 120, "night must win over nap"
        assert r["sleep_period_minutes"] < r["total_recording_minutes"] * 0.8
        assert 0 <= r["sleep_efficiency"] <= 1
        pct = (
            r["deep_sleep_percentage"]
            + r["light_sleep_percentage"]
            + r["rem_sleep_percentage"]
        )
        assert abs(pct - 1.0) < 1e-4  # V5 invariant
        assert r["total_sleep_minutes"] <= r["sleep_period_minutes"]


def test_features_zscores_standardized(marts):
    _, _, _, _, features = marts
    stats = (
        features.groupBy("subject_id")
        .agg(
            F.avg("delta_beta_ratio_z").alias("mean_z"),
            F.stddev("delta_beta_ratio_z").alias("sd_z"),
        )
        .collect()
    )
    for r in stats:
        assert abs(r["mean_z"]) < 1e-6
        assert abs(r["sd_z"] - 1.0) < 1e-6


def test_runner_fail_fast_blocks_dependents(spark):
    epochs = seed_epochs(spark, n_subjects=2)
    built: list[str] = []

    def staged_model(s):
        built.append("staged")
        return sp.staging(epochs)

    def broken_check_model(s):
        built.append("mid")
        return s.table("staged_model")

    def downstream(s):
        built.append("down")
        return s.table("mid_model")

    models = [
        Model("staged_model", staged_model),
        Model(
            "mid_model",
            broken_check_model,
            checks=[
                # impossible invariant → must raise before downstream runs
                expression_is_true("impossible", F.col("epoch_idx") < 0)
            ],
            depends_on=["staged_model"],
        ),
        Model("down_model", downstream, depends_on=["mid_model"]),
    ]
    with pytest.raises(CheckFailure, match="impossible"):
        ModelRunner(spark).run(models)
    assert built == ["staged", "mid"]  # downstream never built


def test_runner_builds_full_dag(spark, tmp_path):
    epochs = seed_epochs(spark, n_subjects=2)
    models = [
        Model("epochs_raw", lambda s: epochs),
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
    built = ModelRunner(spark, warehouse_dir=str(tmp_path)).run(models)
    assert built["sleep_summary"].count() == 2
    assert built["sleep_features"].count() > 0
    assert (tmp_path / "sleep_summary").exists()


def test_validate_split_quarantines_whole_subject(spark):
    good = seed_epochs(spark, n_subjects=2)
    poisoned = good.withColumn(
        "stage",
        F.when(
            (F.col("subject_id") == 1) & (F.col("epoch_idx") == 0), "BOGUS"
        ).otherwise(F.col("stage")),
    )
    valid, quarantine = validate_split(poisoned)
    vs = {r["subject_id"] for r in valid.select("subject_id").distinct().collect()}
    qs = {r["subject_id"] for r in quarantine.select("subject_id").distinct().collect()}
    assert vs == {0}
    assert qs == {1}
    # one bad row quarantines every row of subject 1
    assert quarantine.count() == poisoned.filter("subject_id = 1").count()


def test_validate_split_quarantines_null_subject(spark):
    """A NULL subject violates the contract; its rows cannot join back to a
    violating-entity set on the key, so they must still land in quarantine."""
    good = seed_epochs(spark, n_subjects=2)
    orphaned = good.withColumn(
        "subject_id",
        F.when(F.col("subject_id") == 1, F.lit(None)).otherwise(F.col("subject_id")),
    )
    valid, quarantine = validate_split(orphaned)
    n_orphans = good.filter("subject_id = 1").count()
    assert n_orphans > 0
    assert {r["subject_id"] for r in valid.select("subject_id").distinct().collect()} == {0}
    assert quarantine.count() == n_orphans
    assert quarantine.filter("subject_id IS NULL AND _violates").count() == n_orphans
    assert valid.count() + n_orphans == good.count()


def test_validate_split_scans_input_once(spark, tmp_path):
    """``valid`` reads its input once: every parsed EDF file is parsed once."""
    seed_epochs(spark, n_subjects=2).write.parquet(str(tmp_path / "epochs"))
    valid, _ = validate_split(spark.read.parquet(str(tmp_path / "epochs")))
    plan = valid._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1, plan


def test_cohort_plausibility_full_corpus(spark):
    """Whole-pipeline semantic gate: cohort aggregates must be plausible.

    The reference publishes cohort-level sanity stats (README.md:251 —
    TIB 7.6 h, TST 6.8 h, WASO 52 min, 89% efficiency) that double as
    an end-to-end check that episode scoping, conditional counting and
    ratio math compose correctly.  The synthetic night is shorter than
    a clinical one (4 cycles, SURVEY §5.5), so the gate asserts the
    invariants and adapted magnitude windows, per subject:
    TST < TIB, WASO > 0, efficiency in [0.7, 1.0], stage shares
    summing to 1, and hour-scale magnitudes.
    """
    epochs = seed_epochs(spark, n_subjects=5, seed=42)
    summary = sp.summary(sp.metrics(sp.staging(epochs))).collect()
    assert len(summary) == 5
    for r in summary:
        sid = r["subject_id"]
        tib = r["sleep_period_minutes"]
        tst = r["total_sleep_minutes"]
        waso = r["waso_minutes"]
        eff = r["sleep_efficiency"]
        # A seeded night may legitimately have zero brief awakenings
        # (40% per cycle), so per-subject bounds are inclusive; the
        # cohort-level asserts below pin WASO > 0 where the reference
        # reports it.
        assert tst <= tib, f"subject {sid}: TST {tst} > TIB {tib}"
        assert tst + waso == pytest.approx(tib), f"subject {sid}: TST+WASO != TIB"
        assert 0.7 <= eff <= 1.0, f"subject {sid}: efficiency {eff} implausible"
        assert 120 <= tst <= 420, f"subject {sid}: TST {tst} min out of range"
        assert 120 <= tib <= 480, f"subject {sid}: TIB {tib} min out of range"
        shares = (
            r["deep_sleep_percentage"]
            + r["light_sleep_percentage"]
            + r["rem_sleep_percentage"]
        )
        assert shares == pytest.approx(1.0), f"subject {sid}: stage shares {shares}"
        # band power averages stay near the seeded stage centers (dB scale)
        for band in ("delta", "theta", "alpha", "sigma", "beta"):
            v = r[f"avg_{band}_power"]
            assert 0.0 < v < 40.0, f"subject {sid}: avg_{band}_power {v}"

    # Cohort-level gates, the form the reference reports (mean TIB/TST/
    # WASO/efficiency over all subjects):
    n = len(summary)
    mean_eff = sum(r["sleep_efficiency"] for r in summary) / n
    total_waso = sum(r["waso_minutes"] for r in summary)
    total_awakenings = sum(r["number_of_awakenings"] for r in summary)
    assert 0.8 <= mean_eff < 1.0, f"cohort mean efficiency {mean_eff}"
    assert total_waso > 0, "cohort WASO must be positive"
    assert total_awakenings >= n, "cohort awakenings implausibly low"
