"""Croston's method for intermittent demand (Croston 1972), with the
Syntetos-Boylan approximation (SBA, 2005) bias correction — the
standard spare-parts/sparse-sales forecaster. Beyond-reference;
completes the classical family next to theta/holt/holt_winters.

Decomposition: the series splits into the NONZERO demand sizes
z_1..z_k and the inter-demand intervals p_1..p_k (p_1 = position of
the first demand, 1-based; p_i = gap to the previous demand). Each
sequence is smoothed with SES (same alpha, the classical choice):

    l_z = SES(z, alpha),  l_p = SES(p, alpha)
    yhat_h = l_z / l_p                 (croston)
    yhat_h = (1 - alpha/2) * l_z / l_p (variant="sba")

flat across the horizon. All-zero series forecast 0.

The fit is ONE aggregate per entity (`base.series`: the time-sorted
targets) and one native `F.aggregate` fold over that array that
steps both SES recursions at each nonzero value — no UDF, no window,
no join; the state frame is n_entities rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from functime_spark.forecasting.base import EntityForecaster, series


class croston(EntityForecaster):
    """Croston intermittent-demand forecaster; `alpha` in (0, 1) is
    the shared SES constant, `variant` is 'croston' (classic) or
    'sba' (Syntetos-Boylan (1 - alpha/2) bias correction). Zeros are
    exact 0.0 comparisons — quantize upstream if demand is float
    noise around zero."""

    def __init__(self, freq: str, alpha: float = 0.1, variant: str = "croston"):
        if not (0.0 < alpha < 1.0):
            raise ValueError("alpha must be in (0, 1)")
        if variant not in ("croston", "sba"):
            raise ValueError("variant must be 'croston' or 'sba'")
        super().__init__(freq=freq, lags=1)
        self.alpha = alpha
        self.variant = variant

    def _fit_entities(self, y: DataFrame) -> DataFrame:
        p = self.state["panel"]
        a = float(self.alpha)
        # t: 1-based position, last: position of the previous demand;
        # the levels stay NULL until the first demand seeds them
        zero = F.struct(
            F.lit(0.0).alias("t"),
            F.lit(0.0).alias("last"),
            F.lit(None).cast("double").alias("lz"),
            F.lit(None).cast("double").alias("lp"),
        )

        def step(s, v):
            t = s["t"] + 1.0
            gap = t - s["last"]
            lz = F.coalesce(F.lit(a) * v + F.lit(1.0 - a) * s["lz"], v)
            lp = F.coalesce(F.lit(a) * gap + F.lit(1.0 - a) * s["lp"], gap)
            demand = v != 0.0
            return F.struct(
                t.alias("t"),
                F.when(demand, t).otherwise(s["last"]).alias("last"),
                F.when(demand, lz).otherwise(s["lz"]).alias("lz"),
                F.when(demand, lp).otherwise(s["lp"]).alias("lp"),
            )

        fold = F.aggregate(F.col("__y"), zero, step)
        # all-zero entities keep NULL levels -> forecast 0
        return series(y, p).select(p.entity, "low", fold.alias("__s"))

    def _horizon(self, step: Column) -> Column:
        bias = 1.0 - self.alpha / 2.0 if self.variant == "sba" else 1.0
        return F.coalesce(
            F.lit(bias) * F.col("__s.lz") / F.col("__s.lp"), F.lit(0.0)
        )
