"""Oracle-checked queries for the relational core (SURVEY §2.3 R1-R19).

Each query runs the engine's operators (operators/, plans/) over the
epoch-shaped view of ``events`` and has a DuckDB oracle built from the
shared CTE chain in ``events_domain``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.islands import (
    episode_bounds,
    rank_episodes,
    with_episode_breaks,
    with_episode_ids,
    with_run_keys,
)
from ..operators.windows import (
    with_moving_averages,
    with_transition_flag,
)
from ..plans import sleep_pipeline as sp
from .events_domain import (
    BASE_CTE,
    GAP_EVENTS,
    METRICS_WITH,
    STAGED_CTE,
    WINDOWED_CTE,
    epochs_from_events,
)

BANDS = ("delta", "theta", "alpha", "sigma", "beta")


def _staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sp.staging(epochs_from_events(spark, sf_dir))


def _r6(df: DataFrame, cols) -> DataFrame:
    return df.withColumns({c: F.round(F.col(c), 6) for c in cols})


# --- R1-R3: source scan + surrogate key + cast projection ------------------

def q_staging_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1-R3: md5 surrogate key + explicit cast/rename projection."""
    return _staged(spark, sf_dir)


ORACLE_STAGING = (
    "WITH " + BASE_CTE.strip() + ",\n" + STAGED_CTE.strip() + "\nSELECT * FROM staged"
)


# --- R4-R5: window frame moving averages + lag transition flag -------------

def q_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4: 5-row trailing moving average per band."""
    df = with_moving_averages(
        _staged(spark, sf_dir),
        [f"{b}_power_uv" for b in BANDS],
        ["subject_id"],
        ["epoch_idx"],
    )
    out = df.select(
        "subject_id",
        "epoch_idx",
        *[
            F.col(f"{b}_power_uv_moving_avg").alias(f"{b}_moving_avg")
            for b in BANDS
        ],
    )
    return _r6(out, [f"{b}_moving_avg" for b in BANDS])


ORACLE_MOVING_AVERAGE = (
    "WITH "
    + BASE_CTE.strip()
    + ",\n"
    + STAGED_CTE.strip()
    + ",\n"
    + WINDOWED_CTE.strip()
    + "\nSELECT subject_id, epoch_idx, "
    + ", ".join(f"round({b}_moving_avg, 6) AS {b}_moving_avg" for b in BANDS)
    + " FROM win"
)


def q_transition_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5: lag-based stage-transition flag (first row false)."""
    df = with_transition_flag(
        _staged(spark, sf_dir), "sleep_stage", ["subject_id"], ["epoch_idx"]
    )
    return df.select("subject_id", "epoch_idx", "sleep_stage", "is_stage_transition")


ORACLE_TRANSITION_FLAG = (
    "WITH "
    + BASE_CTE.strip()
    + ",\n"
    + STAGED_CTE.strip()
    + ",\n"
    + WINDOWED_CTE.strip()
    + "\nSELECT subject_id, epoch_idx, sleep_stage, is_stage_transition FROM win"
)


# --- R6-R9: flags, islands, breaks, running-sum episode ids ----------------

def _episodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _staged(spark, sf_dir).withColumn(
        "is_sleep", F.when(F.col("sleep_stage") == "W", 0).otherwise(1)
    )
    df = with_run_keys(df, "is_sleep", ["subject_id"], ["epoch_idx"])
    df = with_episode_breaks(df, GAP_EVENTS, ["subject_id"])
    return with_episode_ids(df, ["subject_id"], ["epoch_idx"])


def q_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6-R7: is_sleep flag + run_key via double row_number."""
    return _episodes(spark, sf_dir).select(
        "subject_id", "epoch_idx", "is_sleep", "run_key"
    )


ORACLE_GAPS_ISLANDS = (
    METRICS_WITH + "\nSELECT subject_id, epoch_idx, is_sleep, run_key FROM runs"
)


def q_episode_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R8-R9: run-length break flag + running-sum episode id."""
    return _episodes(spark, sf_dir).select(
        "subject_id",
        "epoch_idx",
        "is_episode_break",
        F.col("episode_id").cast("bigint").alias("episode_id"),
    )


ORACLE_EPISODE_DETECTION = (
    METRICS_WITH
    + "\nSELECT subject_id, epoch_idx, is_episode_break, episode_id FROM episodes"
)


# --- R10: group-agg + having + rank ---------------------------------------

def q_episode_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R10: per-subject episode ranking by contained sleep, tie-broken."""
    return rank_episodes(_episodes(spark, sf_dir), ["subject_id"]).select(
        "subject_id",
        F.col("episode_id").cast("bigint").alias("episode_id"),
        "episode_rank",
    )


ORACLE_EPISODE_RANKING = (
    METRICS_WITH + "\nSELECT subject_id, episode_id, episode_rank FROM ranked"
)


# --- R11-R12: conditional min/max bounds over broadcast-joined top episode --

def q_episode_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R11-R12: onset/final-awakening bounds of the main episode."""
    eps = _episodes(spark, sf_dir)
    ranked = rank_episodes(eps, ["subject_id"])
    return episode_bounds(eps, ranked, ["subject_id"], "epoch_idx").select(
        "subject_id",
        F.col("onset_idx").alias("sleep_onset_epoch_idx"),
        F.col("final_idx").alias("final_awakening_epoch_idx"),
    )


ORACLE_EPISODE_BOUNDS = (
    METRICS_WITH
    + "\nSELECT subject_id, sleep_onset_epoch_idx, final_awakening_epoch_idx"
    + " FROM bounds"
)


# --- R4-R14 composite: the full sleep_metrics model ------------------------

_METRICS_FLOAT_COLS = [f"{b}_moving_avg" for b in BANDS]


def q_sleep_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4-R14: full intermediate model — windows, islands, episode scoping."""
    m = sp.metrics(_staged(spark, sf_dir), gap_epochs=GAP_EVENTS)
    out = m.select(
        "epoch_id",
        "subject_id",
        "epoch_idx",
        "sleep_stage",
        *[f"{b}_power_uv" for b in BANDS],
        *_METRICS_FLOAT_COLS,
        "is_stage_transition",
        "sleep_onset_epoch_idx",
        "final_awakening_epoch_idx",
        "is_in_sleep_period",
    )
    return _r6(out, _METRICS_FLOAT_COLS)


ORACLE_SLEEP_METRICS = (
    METRICS_WITH
    + "\nSELECT epoch_id, subject_id, epoch_idx, sleep_stage, "
    + ", ".join(f"{b}_power_uv" for b in BANDS)
    + ", "
    + ", ".join(f"round({b}_moving_avg, 6) AS {b}_moving_avg" for b in BANDS)
    + ", is_stage_transition, sleep_onset_epoch_idx, final_awakening_epoch_idx,"
    + " is_in_sleep_period FROM metrics"
)


# --- R15-R17: per-subject summary mart -------------------------------------

_SUMMARY_FLOAT_COLS = [
    "sleep_efficiency",
    "deep_sleep_percentage",
    "light_sleep_percentage",
    "rem_sleep_percentage",
    *[f"avg_{b}_power" for b in BANDS],
]


def q_sleep_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R15-R17: grouped conditional counts/averages + derived metrics."""
    m = sp.metrics(_staged(spark, sf_dir), gap_epochs=GAP_EVENTS)
    return _r6(sp.summary(m), _SUMMARY_FLOAT_COLS)


# Episode-scoped band means in fixed point (exact BIGINT sums — same
# contract as the Spark side, see plans/sleep_pipeline.py::summary).
_FP_BAND_AVG = (
    "    round(CAST(sum(CASE WHEN is_in_sleep_period THEN"
    " CAST(floor({b}_moving_avg * 268435456.0) AS BIGINT) END) AS DOUBLE)"
    " / (268435456.0 * sum(CASE WHEN is_in_sleep_period THEN 1 END)), 6)"
    " AS avg_{b}_power"
)

ORACLE_SLEEP_SUMMARY = (
    METRICS_WITH
    + """
SELECT
    subject_id,
    CAST(count(*) AS BIGINT) * CAST(0.5 AS DOUBLE) AS total_recording_minutes,
    CAST(sum(CASE WHEN is_in_sleep_period THEN 1 ELSE 0 END) AS BIGINT)
        * CAST(0.5 AS DOUBLE) AS sleep_period_minutes,
    CAST(sum(CASE WHEN is_in_sleep_period
            AND sleep_stage IN ('N1', 'N2', 'N3', 'REM') THEN 1 ELSE 0 END) AS BIGINT)
        * CAST(0.5 AS DOUBLE) AS total_sleep_minutes,
    CAST(sum(CASE WHEN is_in_sleep_period AND sleep_stage = 'W' THEN 1 ELSE 0 END)
        AS BIGINT) * CAST(0.5 AS DOUBLE) AS waso_minutes,
    CAST(sum(CASE WHEN is_in_sleep_period AND is_stage_transition
            AND sleep_stage = 'W' THEN 1 ELSE 0 END) AS BIGINT)
        AS number_of_awakenings,
    round(
        sum(CASE WHEN is_in_sleep_period
                AND sleep_stage IN ('N1', 'N2', 'N3', 'REM') THEN 1 ELSE 0 END)
        / nullif(CAST(sum(CASE WHEN is_in_sleep_period THEN 1 ELSE 0 END)
            AS DOUBLE), 0),
        6
    ) AS sleep_efficiency,
    CAST(sum(CASE WHEN is_in_sleep_period AND sleep_stage = 'N3' THEN 1 ELSE 0 END)
        AS BIGINT) * CAST(0.5 AS DOUBLE) AS deep_sleep_minutes,
    round(
        sum(CASE WHEN is_in_sleep_period AND sleep_stage = 'N3' THEN 1 ELSE 0 END)
        / nullif(CAST(sum(CASE WHEN is_in_sleep_period
                AND sleep_stage IN ('N1', 'N2', 'N3', 'REM') THEN 1 ELSE 0 END)
            AS DOUBLE), 0),
        6
    ) AS deep_sleep_percentage,
    CAST(sum(CASE WHEN is_in_sleep_period AND sleep_stage IN ('N1', 'N2')
            THEN 1 ELSE 0 END) AS BIGINT) * CAST(0.5 AS DOUBLE)
        AS light_sleep_minutes,
    round(
        sum(CASE WHEN is_in_sleep_period AND sleep_stage IN ('N1', 'N2')
                THEN 1 ELSE 0 END)
        / nullif(CAST(sum(CASE WHEN is_in_sleep_period
                AND sleep_stage IN ('N1', 'N2', 'N3', 'REM') THEN 1 ELSE 0 END)
            AS DOUBLE), 0),
        6
    ) AS light_sleep_percentage,
    CAST(sum(CASE WHEN is_in_sleep_period AND sleep_stage = 'REM' THEN 1 ELSE 0 END)
        AS BIGINT) * CAST(0.5 AS DOUBLE) AS rem_sleep_minutes,
    round(
        sum(CASE WHEN is_in_sleep_period AND sleep_stage = 'REM' THEN 1 ELSE 0 END)
        / nullif(CAST(sum(CASE WHEN is_in_sleep_period
                AND sleep_stage IN ('N1', 'N2', 'N3', 'REM') THEN 1 ELSE 0 END)
            AS DOUBLE), 0),
        6
    ) AS rem_sleep_percentage,
"""
    + ",\n".join(_FP_BAND_AVG.format(b=b) for b in BANDS)
    + "\nFROM metrics\nGROUP BY subject_id"
)


# --- R18-R19: ratio features + per-group z-scores --------------------------

_FEATURE_RATIO_COLS = ["delta_beta_ratio", "delta_alpha_ratio", "theta_alpha_ratio"]


def q_sleep_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R18-R19: nullif-guarded biomarker ratios + per-subject z-scores.

    The z-scores are rounded inside ``features`` so that a tiny negative
    one keeps DuckDB's ``-0.0``; a second ``round`` would drop the sign.
    """
    m = sp.metrics(_staged(spark, sf_dir), gap_epochs=GAP_EVENTS)
    return _r6(sp.features(m, z_digits=6), _FEATURE_RATIO_COLS)


# Fixed-point z-score, mirroring operators/windows.py::with_group_zscore
# expression-for-expression (floor(x·2^20) power sums in DECIMAL, then
# one double tree per statistic — bit-identical in any engine).  The
# window sums over an unbounded frame equal the groupBy sums the Spark
# side computes, exactly (DECIMAL accumulation is order-free).  The
# var > 0 guard before sqrt matches the Spark side: without it DuckDB
# raises on sqrt(negative) where Spark yields NaN.
_FPZ = "1048576.0"  # 2^20


def _z_sql(c: str) -> str:
    q = f"CAST(floor({c} * {_FPZ}) AS DECIMAL(19,0))"
    n = f"count({c}) OVER wsub"
    sq = f"CAST(sum({q}) OVER wsub AS DOUBLE)"
    sqq = f"CAST(sum({q} * {q}) OVER wsub AS DOUBLE)"
    mean = f"{sq} / ({_FPZ} * {n})"
    var = (
        f"({sqq} / ({_FPZ} * {_FPZ})"
        f" - ({sq} / {_FPZ}) * ({sq} / {_FPZ}) / {n}) / ({n} - 1)"
    )
    std = f"CASE WHEN {n} > 1 AND {var} > 0 THEN sqrt({var}) END"
    return f"round(({c} - {mean}) / {std}, 6) AS {c}_z"


ORACLE_SLEEP_FEATURES = (
    METRICS_WITH
    + """,
ratios AS (
    SELECT
        *,
        delta_moving_avg / nullif(beta_moving_avg, 0) AS delta_beta_ratio,
        delta_moving_avg / nullif(alpha_moving_avg, 0) AS delta_alpha_ratio,
        theta_moving_avg / nullif(alpha_moving_avg, 0) AS theta_alpha_ratio
    FROM metrics
)
SELECT
    epoch_id,
    subject_id,
    sleep_stage,
    """
    + _z_sql("delta_beta_ratio")
    + ",\n    round(delta_beta_ratio, 6) AS delta_beta_ratio,\n    "
    + _z_sql("delta_alpha_ratio")
    + ",\n    round(delta_alpha_ratio, 6) AS delta_alpha_ratio,\n    "
    + _z_sql("theta_alpha_ratio")
    + """,
    round(theta_alpha_ratio, 6) AS theta_alpha_ratio
FROM ratios
WINDOW wsub AS (
    PARTITION BY subject_id ORDER BY epoch_idx
    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
)
"""
)


QUERIES = {
    "staging_cast": q_staging_cast,
    "moving_average": q_moving_average,
    "transition_flag": q_transition_flag,
    "gaps_islands": q_gaps_islands,
    "episode_detection": q_episode_detection,
    "episode_ranking": q_episode_ranking,
    "episode_bounds": q_episode_bounds,
    "sleep_metrics": q_sleep_metrics,
    "sleep_summary": q_sleep_summary,
    "sleep_features": q_sleep_features,
}

ORACLES = {
    "staging_cast": ORACLE_STAGING,
    "moving_average": ORACLE_MOVING_AVERAGE,
    "transition_flag": ORACLE_TRANSITION_FLAG,
    "gaps_islands": ORACLE_GAPS_ISLANDS,
    "episode_detection": ORACLE_EPISODE_DETECTION,
    "episode_ranking": ORACLE_EPISODE_RANKING,
    "episode_bounds": ORACLE_EPISODE_BOUNDS,
    "sleep_metrics": ORACLE_SLEEP_METRICS,
    "sleep_summary": ORACLE_SLEEP_SUMMARY,
    "sleep_features": ORACLE_SLEEP_FEATURES,
}
