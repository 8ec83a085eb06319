"""Simple exponential smoothing (Brown 1956) — the flat-forecast base
case of the classical family (theta smooths its theta=2 line with
exactly this; holt adds trend, holt_winters seasonality, croston
applies it twice). Beyond-reference as a NAMED forecaster.

    l_t = alpha * y_t + (1 - alpha) * l_{t-1},  l_1 = y_1
    yhat_h = l_n  (flat)

Evaluated in CLOSED FORM (the theta/SES weighted sum): ONE window
pass for positions + ONE weighted aggregate per entity — no UDF, no
iteration; state is n_entities rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from functime_spark.forecasting.base import (
    EntityForecaster,
    ordered_sum,
    positions,
    ses_weight,
)
from functime_spark.materialize import materialize


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
        rows = positions(y, p)
        stats = rows.groupBy(p.entity).agg(
            F.max("__t").alias("__n"), F.max(p.time).alias("low")
        )
        c = ses_weight(self.alpha, F.col("__t"), F.col("__n"))
        lvl = rows.join(stats, on=p.entity).groupBy(p.entity).agg(
            ordered_sum(c * F.col("__y"), F.col("__t")).alias("__l"),
            F.max("low").alias("low"),
        )
        return materialize(lvl)

    def _horizon(self, step: Column) -> Column:
        return F.col("__l")
