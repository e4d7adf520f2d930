"""Declarative data-quality operators (SURVEY §2.4 V1-V7).

The reference enforces its contract three ways: a Pandera schema with
whole-subject rejection at ingest (``validators.py:6-20``,
``pipeline.py:81,98-109``), dbt generic tests (not_null / unique /
accepted_values / expression_is_true / accepted_range,
``models/schema.yml``), and fail-fast DAG gating (``pipeline.py:
156-173``).  Here:

- :func:`contract_violations` builds one violation predicate per rule;
- :func:`validate_split` yields (valid, quarantine) frames — quarantine
  at *entity* granularity like the reference's whole-subject rejection;
- :class:`Check` + :func:`run_checks` evaluate all declarative checks in
  a SINGLE aggregation pass (one scan, map-side combined — at 100 TB
  one pass instead of N is the difference that matters) and unpivot to
  (check_name, violations) rows;
- :func:`assert_checks` is the fail-fast gate used by plans.runner.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..schema import SLEEP_STAGES


@dataclass(frozen=True)
class Check:
    """A named violation predicate evaluated row-wise (V2, V4-V6)."""

    name: str
    violation: Column


def not_null(col: str) -> Check:
    return Check(f"not_null_{col}", F.col(col).isNull())


def accepted_values(col: str, values: Sequence[str]) -> Check:
    return Check(
        f"accepted_values_{col}",
        ~F.col(col).isin(*values) | F.col(col).isNull(),
    )


def accepted_range(col: str, lo, hi) -> Check:
    return Check(
        f"accepted_range_{col}",
        F.col(col).isNotNull() & ~F.col(col).between(lo, hi),
    )


def expression_is_true(name: str, expr: Column) -> Check:
    return Check(name, ~F.coalesce(expr, F.lit(False)))


def run_checks(df: DataFrame, checks: Sequence[Check]) -> DataFrame:
    """Evaluate all row-wise checks in one aggregation pass.

    Returns (check_name, violations) rows via sum(when)+unpivot — a
    single scan regardless of check count.  An empty check list yields
    an empty result frame (callers may gate on unique_keys alone).
    """
    if not checks:
        return df.sparkSession.createDataFrame(
            [], "check_name string, violations bigint"
        )
    agg = df.agg(
        *[
            F.sum(F.when(c.violation, 1).otherwise(0))
            .cast("bigint")
            .alias(c.name)
            for c in checks
        ]
    )
    return agg.unpivot([], [c.name for c in checks], "check_name", "violations")


def uniqueness_check(df: DataFrame, cols: Sequence[str], name: str | None = None) -> DataFrame:
    """V3 as a (check_name, violations) row: count of surplus duplicates."""
    label = name or f"unique_{'_'.join(cols)}"
    dup = df.groupBy(*cols).agg(F.count("*").alias("n")).filter(F.col("n") > 1)
    return dup.agg(
        F.coalesce(F.sum(F.col("n") - 1), F.lit(0)).cast("bigint").alias("violations")
    ).select(F.lit(label).alias("check_name"), "violations")


def epoch_contract_checks() -> list[Check]:
    """The reference's Pandera/dbt contract on the staged epoch table."""
    return [
        not_null("epoch_id"),
        not_null("subject_id"),
        not_null("epoch_idx"),
        not_null("sleep_stage"),
        *[not_null(f"{b}_power_uv") for b in ("delta", "theta", "alpha", "sigma", "beta")],
        accepted_values("sleep_stage", SLEEP_STAGES),
    ]


def contract_violation_condition(power_cols: Sequence[str]) -> Column:
    """V1: the Pandera row-level contract as one predicate.

    NaN in a float column is a violation (``tests/test_ingest.py:42-61``);
    negative dB values are legal (``:85-103``).
    """
    cond = (
        F.col("subject_id").isNull()
        | F.col("epoch_idx").isNull()
        | F.col("stage").isNull()
        | ~F.col("stage").isin(*SLEEP_STAGES)
    )
    for c in power_cols:
        cond = cond | F.col(c).isNull() | F.isnan(F.col(c))
    return cond


def validate_split(
    df: DataFrame,
    power_cols: Sequence[str] = ("delta_power", "theta_power", "alpha_power", "sigma_power", "beta_power"),
    entity_col: str = "subject_id",
) -> tuple[DataFrame, DataFrame]:
    """V1: whole-entity validation split → (valid, quarantine).

    A single violating row disqualifies the entire entity, mirroring the
    reference's whole-subject rejection (``pipeline.py:98-109``).  One
    window over the entity flags every row of a violating entity, so the
    input is read once and rows with a NULL entity (themselves contract
    violations) form one entity and are quarantined; a join on the
    entity key would never match them.  Quarantine rows keep their own
    ``_violates`` flag.
    """
    flagged = df.withColumn(
        "_violates", contract_violation_condition(power_cols)
    ).withColumn("_bad", F.max("_violates").over(Window.partitionBy(entity_col)))
    valid = flagged.filter(~F.col("_bad")).drop("_violates", "_bad")
    quarantine = flagged.filter(F.col("_bad")).drop("_bad")
    return valid, quarantine


class CheckFailure(Exception):
    """Raised by the fail-fast gate when any check reports violations."""


def assert_checks(
    df: DataFrame,
    checks: Sequence[Check],
    unique_cols: Sequence[Sequence[str]] = (),
) -> None:
    """V7: fail-fast gate — evaluate checks, raise on any violation."""
    results = run_checks(df, checks)
    for keys in unique_cols:
        results = results.unionByName(uniqueness_check(df, keys))
    bad = results.filter(F.col("violations") > 0).collect()
    if bad:
        detail = ", ".join(f"{r['check_name']}={r['violations']}" for r in bad)
        raise CheckFailure(f"data-quality checks failed: {detail}")


def observed_checks(df: DataFrame, checks: Sequence[Check], name: str = "checks"):
    """Attach all row-wise checks as an Observation on ``df``.

    The 100 TB upgrade over :func:`run_checks`: the violation counters
    ride the NEXT action on ``df`` (typically the materializing write)
    via ``Dataset.observe`` — zero additional scans, where the
    separate aggregation pass re-reads the stage once per gate.
    Returns ``(observed_df, observation)``; after any action on the
    returned frame, ``observation.get`` yields {check_name: count}.
    Uniqueness checks cannot ride an Observation (they need a grouped
    distinct, which ObserveExec's scan-local aggregates cannot
    express) — keep those on :func:`uniqueness_check`.
    """
    from pyspark.sql import Observation

    if not checks:
        return df, None
    obs = Observation(name)
    metrics = [
        F.sum(F.when(c.violation, 1).otherwise(0)).cast("bigint").alias(c.name)
        for c in checks
    ]
    return df.observe(obs, *metrics), obs


def assert_observed(observation, context: str = "") -> None:
    """Fail-fast gate on an Observation populated by a completed action."""
    if observation is None:
        return
    bad = {k: v for k, v in observation.get.items() if v and v > 0}
    if bad:
        detail = ", ".join(f"{k}={v}" for k, v in bad.items())
        raise CheckFailure(f"data-quality checks failed{context}: {detail}")
