"""Simple exponential smoothing (Brown 1956) — the flat-forecast base
case of the classical family (theta smooths its theta=2 line with
exactly this; holt adds trend, holt_winters seasonality, croston
applies it twice). Beyond-reference as a NAMED forecaster.

    l_t = alpha * y_t + (1 - alpha) * l_{t-1},  l_1 = y_1
    yhat_h = l_n  (flat)

The fit is ONE aggregate per entity (`base.series`: the time-sorted
targets) and a native `F.aggregate` fold that runs the recursion
above over that array — no UDF, no window; state is n_entities rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from functime_spark.forecasting.base import EntityForecaster, series


def ses_level(values: Column, alpha: float) -> Column:
    """l_n of the SES recursion over a non-empty double array. The
    fold starts from NULL, so the first element seeds the level."""
    a = float(alpha)
    return F.aggregate(
        values,
        F.lit(None).cast("double"),
        lambda l, x: F.coalesce(F.lit(a) * x + F.lit(1.0 - a) * l, x),
    )


class ses(EntityForecaster):
    """Flat simple-exponential-smoothing forecaster; `alpha` in
    (0, 1), fixed (sweep with backtest/auto tooling)."""

    def __init__(self, freq: str, alpha: float = 0.5):
        if not (0.0 < alpha < 1.0):
            raise ValueError("alpha must be in (0, 1)")
        super().__init__(freq=freq, lags=1)
        self.alpha = alpha

    def _fit_entities(self, y: DataFrame) -> DataFrame:
        p = self.state["panel"]
        return series(y, p).select(
            p.entity, "low", ses_level(F.col("__y"), self.alpha).alias("__l")
        )

    def _horizon(self, step: Column) -> Column:
        return F.col("__l")
