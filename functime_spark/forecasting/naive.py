"""Naive and seasonal-naive forecasters.

Mirrors functime forecasting/naive.py and snaive.py. The reference's
horizontal concat of sorted frames (naive.py:57-59) is re-expressed as
an entity join — identical semantics, shuffle-free when the per-entity
state frame is broadcast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from functime_spark.forecasting.base import EntityForecaster, sorted_values


class naive(EntityForecaster):
    """Last value carried forward. Ref naive.py:9-60."""

    def _fit_entities(self, y: DataFrame) -> DataFrame:
        p = self.state["panel"]
        return y.groupBy(p.entity).agg(
            F.max_by(p.target, p.time).alias("__last"),
            F.max(p.time).alias("low"),
        )

    def _horizon(self, step: Column) -> Column:
        return F.col("__last")


class snaive(EntityForecaster):
    """Tile the last seasonal cycle. Ref snaive.py:9-64:
    prediction step i (0-based) = tail_sp[i mod sp]."""

    def __init__(self, freq: str, sp: int):
        super().__init__(freq=freq, lags=1)
        self.sp = sp

    def _fit_entities(self, y: DataFrame) -> DataFrame:
        p = self.state["panel"]
        sorted_vals = sorted_values(p)
        tail = F.when(
            F.size(sorted_vals) <= self.sp, sorted_vals
        ).otherwise(F.slice(sorted_vals, -self.sp, self.sp))
        return y.groupBy(p.entity).agg(
            tail.alias("__tail"), F.max(p.time).alias("low")
        )

    def _horizon(self, step: Column) -> Column:
        return F.element_at(
            F.col("__tail"), (step % F.size("__tail") + 1).cast("int")
        )
