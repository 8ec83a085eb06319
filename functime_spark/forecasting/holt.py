"""Holt's linear-trend exponential smoothing (Holt 1957), with
optional trend damping (Gardner & McKenzie 1985) — beyond-reference
(the reference's named-forecaster list has no exponential-smoothing
family), but squarely in its domain next to `theta`.

Recursion (l_1 = y_1, b_1 = y_2 - y_1; phi = 1 is classic Holt):

    l_t = alpha * y_t + (1 - alpha) * (l_{t-1} + phi * b_{t-1})
    b_t = beta * (l_t - l_{t-1}) + (1 - beta) * phi * b_{t-1}
    yhat_{n+h} = l_n + (phi + phi^2 + ... + phi^h) * b_n

The fit is ONE aggregate per entity (`base.series`: the time-sorted
targets) and a native `F.aggregate` fold that runs the recursion
above, (l, b) as its two-field state, over that array — no UDF, no
window, no driver scalar; state is n_entities rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from functime_spark.forecasting.base import EntityForecaster, series


class holt(EntityForecaster):
    """Holt linear-trend smoothing: `alpha` (level), `beta` (trend)
    in (0, 1); `phi` in (0, 1] damps the trend (1 = classic Holt).
    Fixed constants — no in-fit optimization, keeping the plan
    deterministic; sweep with backtest/auto tooling. Series of
    length 1 degenerate to the naive flat forecast (b = 0)."""

    def __init__(
        self,
        freq: str,
        alpha: float = 0.5,
        beta: float = 0.3,
        phi: float = 1.0,
    ):
        if not (0.0 < alpha < 1.0) or not (0.0 < beta < 1.0):
            raise ValueError("alpha and beta must be in (0, 1)")
        if not (0.0 < phi <= 1.0):
            raise ValueError("phi must be in (0, 1]")
        super().__init__(freq=freq, lags=1)
        self.alpha = alpha
        self.beta = beta
        self.phi = phi

    def _fit_entities(self, y: DataFrame) -> DataFrame:
        p = self.state["panel"]
        a, be, phi = float(self.alpha), float(self.beta), float(self.phi)
        ys = F.col("__y")
        # l_1 = y_1, b_1 = y_2 - y_1 (0 for a one-point series)
        init = F.struct(
            ys[0].alias("l"),
            F.coalesce(F.get(ys, 1) - ys[0], F.lit(0.0)).alias("b"),
        )

        def step(s, v):
            lvl = F.lit(a) * v + F.lit(1.0 - a) * (s["l"] + F.lit(phi) * s["b"])
            trend = F.lit(be) * (lvl - s["l"]) + F.lit((1.0 - be) * phi) * s["b"]
            return F.struct(lvl.alias("l"), trend.alias("b"))

        fold = F.aggregate(F.slice(ys, 2, F.size(ys)), init, step)
        return series(y, p).select(p.entity, "low", fold.alias("__s"))

    def _horizon(self, step: Column) -> Column:
        phi = float(self.phi)
        h = step + 1
        if phi == 1.0:
            damp = h.cast("double")
        else:
            # phi + ... + phi^h = phi * (1 - phi^h) / (1 - phi)
            damp = F.lit(phi) * (
                1.0 - F.pow(F.lit(phi), h.cast("double"))
            ) / F.lit(1.0 - phi)
        return F.col("__s.l") + damp * F.col("__s.b")
