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

The fit is ONE aggregate per entity (`base.series`: the time-sorted
targets) and two native `F.aggregate` folds over that array: one
adds the OLS sums in time order, one runs the SES recursion over z
(`ses.ses_level`) — no UDF, no window, no join; state is n_entities
rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from functime_spark.forecasting.base import EntityForecaster, series
from functime_spark.forecasting.ses import ses_level


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
        # n, sum y and sum i*y over the 0-based index i, added in time order
        zero = F.struct(*(F.lit(0.0).alias(k) for k in ("n", "sy", "siy")))
        sums = F.aggregate(
            F.col("__y"),
            zero,
            lambda s, v: F.struct(
                (s["n"] + 1.0).alias("n"),
                (s["sy"] + v).alias("sy"),
                (s["siy"] + s["n"] * v).alias("siy"),
            ),
        )
        ols = series(y, p).select(p.entity, "low", "__y", sums.alias("__o"))
        n, sy, siy = F.col("__o.n"), F.col("__o.sy"), F.col("__o.siy")
        # the index sums are small integers, exact in closed form
        si = n * (n - 1.0) / 2.0
        sii = (n - 1.0) * n * (2.0 * n - 1.0) / 6.0
        den = n * sii - si * si
        b = F.when(den != 0, (n * siy - si * sy) / den).otherwise(F.lit(0.0))
        coef = ols.select(
            p.entity,
            "low",
            "__y",
            n.alias("__n"),
            b.alias("__b"),
            ((sy - b * si) / n).alias("__a"),
        )
        # a and b are columns of their own select (each read twice, so
        # the optimizer keeps the projections apart): the z transform
        # reads them per element, not the OLS expressions behind them
        z = F.transform(
            "__y", lambda v, i: 2.0 * v - (F.col("__a") + F.col("__b") * i)
        )
        level = ses_level(z, self.alpha).alias("__l")
        return coef.select(p.entity, "low", "__n", "__a", "__b", level)

    def _horizon(self, step: Column) -> Column:
        # step s = horizon s+1 => trend index n - 1 + (s+1) = n + s
        trend = F.col("__a") + F.col("__b") * (F.col("__n") + step)
        return 0.5 * trend + 0.5 * F.col("__l")
