"""operators/windows: rounding of per-group z-scores."""

from __future__ import annotations

import math

import duckdb

from sleep_edf_data_pipeline_spark.operators.windows import with_group_zscore


def _sign(x: float) -> float:
    return math.copysign(1.0, x)


def test_zscore_rounding_keeps_negative_zero(spark):
    """A tiny negative z-score rounds to -0.0, as DuckDB's ``round`` gives
    (the oracle side); Spark's own ``round`` returns +0.0.  The group's
    fixed-point sum is exactly 0, so the mean is 0 and the z-scores of
    -1e-7 and 1e-6 are about -1.2e-7 and 1.2e-6."""
    xs = [1.0, -1.0, -1e-7, 1e-6, 0.0]
    df = spark.createDataFrame([(1, i, x) for i, x in enumerate(xs)], "g int, i int, x double")
    z = dict(with_group_zscore(df, ["x"], ["g"], digits=6).select("i", "x_z").collect())
    unrounded = dict(with_group_zscore(df, ["x"], ["g"]).select("i", "x_z").collect())
    for i in range(len(xs)):
        want = duckdb.sql(f"SELECT round({unrounded[i]!r}::DOUBLE, 6)").fetchone()[0]
        assert (z[i], _sign(z[i])) == (want, _sign(want)), (i, unrounded[i])
    assert _sign(z[2]) == -1.0 and z[2] == 0.0
    assert z[3] == 1e-6 and _sign(z[4]) == 1.0
