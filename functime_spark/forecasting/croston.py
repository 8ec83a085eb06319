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

Scale shape — the theta/SES discipline twice: SES evaluates in CLOSED
FORM (l_k = (1-a)^(k-1) x_1 + sum_{i>=2} a (1-a)^(k-i) x_i), so the
fit is one window pass over the panel (row positions), a filter to
the nonzero rows + one lag window for intervals, and ONE weighted-sum
aggregate producing both levels. No UDF, no iteration; the state
frame is n_entities rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from functime_spark.forecasting.base import (
    EntityForecaster,
    ordered_sum,
    positions,
    ses_weight,
)
from functime_spark.materialize import materialize


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
        rows = positions(y, p)
        cut = materialize(
            rows.groupBy(p.entity).agg(F.max(p.time).alias("low"))
        )
        nz = rows.where(F.col("__y") != 0.0)
        wd = Window.partitionBy(p.entity).orderBy("__t")
        nz = nz.select(
            p.entity,
            F.col("__y").alias("__z"),
            (
                F.col("__t")
                - F.coalesce(F.lag("__t").over(wd), F.lit(0))
            ).cast("double").alias("__p"),
            F.row_number().over(wd).alias("__i"),  # demand index 1..k
        )
        # closed-form SES weights over the demand index, applied to
        # BOTH the size and interval sequences in the SAME aggregate
        stats = nz.groupBy(p.entity).agg(F.max("__i").alias("__k"))
        j = nz.join(stats, on=p.entity)
        c = ses_weight(self.alpha, F.col("__i"), F.col("__k"))
        lv = j.groupBy(p.entity).agg(
            ordered_sum(c * F.col("__z"), F.col("__i")).alias("__lz"),
            ordered_sum(c * F.col("__p"), F.col("__i")).alias("__lp"),
        )
        # all-zero entities have no nz rows: left join -> null levels
        # -> forecast 0
        return materialize(cut.join(lv, on=p.entity, how="left"))

    def _horizon(self, step: Column) -> Column:
        bias = 1.0 - self.alpha / 2.0 if self.variant == "sba" else 1.0
        return F.coalesce(
            F.lit(bias) * F.col("__lz") / F.col("__lp"), F.lit(0.0)
        )
