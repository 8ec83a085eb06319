"""Theta method forecaster (Assimakopoulos & Nikolopoulos 2000) —
the classical two-theta-line variant that won M3 and anchors the M4
benchmarks. Beyond-reference (the reference's named-forecaster list
has no theta), but squarely in its domain.

Decomposition: the theta=0 line is the OLS linear trend over the
integer index, the theta=2 line is z_t = 2*y_t - trend_t; z is
smoothed with simple exponential smoothing (fixed alpha — the run is
deterministic and SQL-replayable), and the h-step forecast is the
equal-weight combination of the extrapolated trend and the flat SES
level:

    yhat_h = 0.5 * (a + b * (n - 1 + h)) + 0.5 * l_n

SES is evaluated in CLOSED FORM (the recursion l_t = a*z_t +
(1-a)*l_{t-1} with l_1 = z_1 unrolls to a weighted sum), so the whole
fit is TWO aggregate passes over the windowed panel (OLS sums, then
the SES level joined against the MATERIALIZED coefficients) —
no UDF, no iteration, no driver loop. At 100 TB: everything is
entity-partitioned; the state frame is n_entities rows.
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


class theta(EntityForecaster):
    """Classical two-line Theta: OLS trend (theta=0) + SES-smoothed
    theta=2 line, equal-weight combination; `alpha` is the SES
    smoothing constant (fixed — no in-fit optimization, keeping the
    plan deterministic; sweep alpha with backtest/auto tooling)."""

    def __init__(self, freq: str, alpha: float = 0.5):
        if not (0.0 < alpha < 1.0):
            raise ValueError("alpha must be in (0, 1)")
        super().__init__(freq=freq, lags=1)
        self.alpha = alpha

    def _fit_entities(self, y: DataFrame) -> DataFrame:
        p = self.state["panel"]
        rows = positions(y, p)
        i0 = F.col("__t") - 1  # 0-based trend index
        i, yv, t = i0.cast("double"), F.col("__y"), F.col("__t")
        # the index sums add small integers, exact in any order; the
        # sums over y are added in position order
        ols = rows.groupBy(p.entity).agg(
            F.count(F.lit(1)).cast("double").alias("__n"),
            F.sum(i).alias("__si"),
            ordered_sum(yv, t).alias("__sy"),
            ordered_sum(i * yv, t).alias("__siy"),
            F.sum(i * i).alias("__sii"),
            F.max(p.time).alias("low"),
        )
        den = F.col("__n") * F.col("__sii") - F.col("__si") * F.col("__si")
        b = F.when(
            den != 0,
            (F.col("__n") * F.col("__siy") - F.col("__si") * F.col("__sy"))
            / den,
        ).otherwise(F.lit(0.0))
        coef = materialize(
            ols.select(
                p.entity,
                "__n",
                "low",
                b.alias("__b"),
                ((F.col("__sy") - b * F.col("__si")) / F.col("__n")).alias(
                    "__a"
                ),
            )
        )
        j = rows.join(coef, on=p.entity)
        # closed-form SES over z = 2y - (a + b*i)
        z = 2.0 * F.col("__y") - (F.col("__a") + F.col("__b") * i0)
        c = ses_weight(self.alpha, F.col("__t"), F.col("__n"))
        lvl = j.groupBy(p.entity).agg(ordered_sum(c * z, t).alias("__l"))
        # both per-entity frames are materialized (n_entities rows):
        # coef above so the SES join consumes a pinned table instead of
        # re-embedding the windowed `rows` subtree, and the combined
        # state here so predict() is a window-free read of a tiny
        # frame — the full-panel window runs exactly twice total
        # (once per aggregate)
        return materialize(coef.join(lvl, on=p.entity))

    def _horizon(self, step: Column) -> Column:
        # step s = horizon s+1 => trend index n - 1 + (s+1) = n + s
        trend = F.col("__a") + F.col("__b") * (F.col("__n") + step)
        return 0.5 * trend + 0.5 * F.col("__l")
