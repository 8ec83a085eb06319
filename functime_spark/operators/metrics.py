"""Forecast metrics: per-entity score DataFrames.

Mirrors functime metrics/point.py, metrics/probabilistic.py,
metrics/multi_objective.py. Every metric is a left join of y_pred onto
y_true on (entity, time) followed by groupBy(entity).agg(expr) — one
shuffle each, or one shuffle total when composed via `score_forecast`
(all metrics share the same join + grouping, so they fuse into a
single aggregate).

Panel convention: y frames are (entity, time, value) with the value in
the LAST column (reference metrics/point.py:10-12).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _joined(y_true: DataFrame, y_pred: DataFrame):
    e, t = y_true.columns[:2]
    yt = y_true.withColumnRenamed(y_true.columns[-1], "actual")
    yp = y_pred.withColumnRenamed(y_pred.columns[-1], "pred").select(
        e, t, "pred"
    )
    return yt.join(yp, on=[e, t], how="left"), e


# -- aggregate expressions (shared by the single metrics and the fused
#    score_forecast) --------------------------------------------------

def _mae_expr():
    return F.avg(F.abs(F.col("pred") - F.col("actual")))


def _mfe_expr():
    return F.avg(F.col("pred") - F.col("actual"))


def _mape_expr():
    return F.avg(F.abs(F.col("actual") - F.col("pred")) / F.abs(F.col("actual")))


def _mse_expr():
    e = F.col("pred") - F.col("actual")
    return F.avg(e * e)


def _smape_expr():
    """Sum-ratio SMAPE (ref metrics/point.py:121-142)."""
    return F.sum(F.abs(F.col("pred") - F.col("actual"))) / F.sum(
        F.col("pred") + F.col("actual")
    )


def _smape_original_expr():
    num = 2 * F.abs(F.col("pred") - F.col("actual"))
    denom = F.lit(0.0001) + F.abs(F.col("actual")) + F.abs(F.col("pred"))
    return (F.lit(100.0) / F.count("pred")) * F.sum(num / denom)


def _overforecast_expr():
    return F.sum(F.when(F.col("pred") > F.col("actual"), F.col("pred")))


def _underforecast_expr():
    return F.sum(F.when(F.col("pred") < F.col("actual"), F.col("pred")))


def mae(y_true, y_pred):
    j, e = _joined(y_true, y_pred)
    return j.groupBy(e).agg(_mae_expr().alias("mae"))


def mfe(y_true, y_pred):
    j, e = _joined(y_true, y_pred)
    return j.groupBy(e).agg(_mfe_expr().alias("bias"))


def mape(y_true, y_pred):
    j, e = _joined(y_true, y_pred)
    return j.groupBy(e).agg(_mape_expr().alias("mape"))


def mse(y_true, y_pred):
    j, e = _joined(y_true, y_pred)
    return j.groupBy(e).agg(_mse_expr().alias("mse"))


def rmse(y_true, y_pred):
    j, e = _joined(y_true, y_pred)
    return j.groupBy(e).agg(F.sqrt(_mse_expr()).alias("rmse"))


def smape(y_true, y_pred):
    j, e = _joined(y_true, y_pred)
    return j.groupBy(e).agg(_smape_expr().alias("smape"))


def smape_original(y_true, y_pred):
    j, e = _joined(y_true, y_pred)
    return j.groupBy(e).agg(_smape_original_expr().alias("smape_original"))


def _naive_scale_both(y_train: DataFrame, sp: int):
    """Per-entity in-sample seasonal-naive MAE (`__naive_abs`) and MSE
    (`__naive_sq`) in ONE window + ONE aggregate (ref point.py:167-200)
    — the one naive-scale definition: mase and rmsse select their
    column, and score_forecast reads both off a single Exchange+Sort+
    Window pass (the groupBy reuses the window's entity partitioning)."""
    e, t = y_train.columns[:2]
    v = y_train.columns[-1]
    w = Window.partitionBy(e).orderBy(t)
    d = F.col(v) - F.lag(v, sp).over(w)
    return (
        y_train.select(F.col(e), d.alias("__d"))
        .groupBy(e)
        .agg(
            F.avg(F.abs(F.col("__d"))).alias("__naive_abs"),
            F.avg(F.col("__d") * F.col("__d")).alias("__naive_sq"),
        )
    )


def mase(y_true, y_pred, y_train, sp: int = 1):
    e = y_true.columns[0]
    scale = _naive_scale_both(y_train, sp).select(e, "__naive_abs")
    return (
        mae(y_true, y_pred)
        .join(F.broadcast(scale), on=e, how="left")
        .select(e, (F.col("mae") / F.col("__naive_abs")).alias("mase"))
    )


def rmsse(y_true, y_pred, y_train, sp: int = 1):
    e = y_true.columns[0]
    scale = _naive_scale_both(y_train, sp).select(e, "__naive_sq")
    return (
        mse(y_true, y_pred)
        .join(F.broadcast(scale), on=e, how="left")
        .select(e, F.sqrt(F.col("mse") / F.col("__naive_sq")).alias("rmsse"))
    )


def overforecast(y_true, y_pred):
    j, e = _joined(y_true, y_pred)
    return j.groupBy(e).agg(_overforecast_expr().alias("overforecast"))


def underforecast(y_true, y_pred):
    j, e = _joined(y_true, y_pred)
    return j.groupBy(e).agg(_underforecast_expr().alias("underforecast"))


# -- probabilistic ---------------------------------------------------

def crps(y_true, y_pred, y_pred_std=None):
    """Gaussian closed-form CRPS (ref probabilistic.py:25-69).

    Needs Phi/phi; Spark lacks erf, so the normal CDF runs in an
    Arrow-vectorized pandas UDF (the one Python crossing here).
    """
    from pyspark.sql.types import DoubleType

    def _crps_kernel(z):
        import numpy as np
        import pandas as pd

        erf = np.vectorize(math.erf)
        cdf = 0.5 * (1.0 + erf(z / np.sqrt(2.0)))
        pdf = np.exp(-0.5 * z * z) / np.sqrt(2 * np.pi)
        return pd.Series(z * (2 * cdf - 1) + 2 * pdf - 1 / np.sqrt(np.pi))

    # plain-function form: `from __future__ import annotations` turns
    # hints into strings, which pandas_udf's hint parser rejects
    _crps_gauss = F.pandas_udf(_crps_kernel, DoubleType())

    j, e = _joined(y_true, y_pred)
    t = y_true.columns[1]
    if y_pred_std is not None:
        std = y_pred_std.withColumnRenamed(y_pred_std.columns[-1], "__std").select(
            e, t, "__std"
        )
        j = j.join(std, on=[e, t], how="left")
    else:
        j = j.withColumn("__std", F.lit(1.0))
    z = (F.col("actual") - F.col("pred")) / F.col("__std")
    per_row = F.col("__std") * _crps_gauss(z)
    return j.withColumn("__crps", per_row).groupBy(e).agg(
        F.avg("__crps").alias("crps")
    )


def _interval_frames(y_true, y_pred, y_pred_lower, y_pred_upper):
    e, t = y_true.columns[:2]
    if y_pred_lower is not None and y_pred_upper is not None:
        lower = y_pred_lower.withColumnRenamed(
            y_pred_lower.columns[-1], "lower"
        ).select(e, t, "lower")
        upper = y_pred_upper.withColumnRenamed(
            y_pred_upper.columns[-1], "upper"
        ).select(e, t, "upper")
    elif "lower" in y_pred.columns and "upper" in y_pred.columns:
        lower = y_pred.select(e, t, "lower")
        upper = y_pred.select(e, t, "upper")
    else:
        raise ValueError(
            "provide y_pred_lower/y_pred_upper or y_pred with lower/upper columns"
        )
    yt = y_true.withColumnRenamed(y_true.columns[-1], "actual")
    return (
        yt.join(lower, on=[e, t], how="left").join(upper, on=[e, t], how="left"),
        e,
    )


def interval_coverage(y_true, y_pred, y_pred_lower=None, y_pred_upper=None):
    """Empirical interval coverage (ref probabilistic.py:72-127)."""
    j, e = _interval_frames(y_true, y_pred, y_pred_lower, y_pred_upper)
    inside = (F.col("actual") >= F.col("lower")) & (
        F.col("actual") <= F.col("upper")
    )
    return j.groupBy(e).agg(F.avg(inside.cast("double")).alias("coverage"))


def winkler_score(y_true, y_pred, y_pred_lower=None, y_pred_upper=None, alpha: float = 0.05):
    """Winkler interval score (ref probabilistic.py:130-194)."""
    j, e = _interval_frames(y_true, y_pred, y_pred_lower, y_pred_upper)
    width = F.col("upper") - F.col("lower")
    penalty = (
        F.when(
            F.col("actual") < F.col("lower"),
            (F.col("lower") - F.col("actual")) * (2.0 / alpha),
        )
        .when(
            F.col("actual") > F.col("upper"),
            (F.col("actual") - F.col("upper")) * (2.0 / alpha),
        )
        .otherwise(0.0)
    )
    return j.groupBy(e).agg(F.avg(width + penalty).alias("winkler"))


# -- multi-objective -------------------------------------------------

def score_forecast(y_true, y_pred, y_train) -> DataFrame:
    """All point metrics per entity in ONE fused aggregate.

    Ref multi_objective.py:61-107 runs 8 separate metric queries and
    left-joins them; here they share the join + grouping so Catalyst
    executes a single shuffle.
    """
    j, e = _joined(y_true, y_pred)
    scales = _naive_scale_both(y_train, 1)
    agg = j.groupBy(e).agg(
        _mae_expr().alias("mae"),
        _mse_expr().alias("mse"),
        _overforecast_expr().alias("overforecast"),
        _smape_expr().alias("smape"),
        _underforecast_expr().alias("underforecast"),
    )
    return (
        agg.join(F.broadcast(scales), on=e, how="left")
        .select(
            e,
            "mae",
            (F.col("mae") / F.col("__naive_abs")).alias("mase"),
            "mse",
            "overforecast",
            F.sqrt("mse").alias("rmse"),
            F.sqrt(F.col("mse") / F.col("__naive_sq")).alias("rmsse"),
            "smape",
            "underforecast",
        )
    )


def summarize_scores(scores: DataFrame, agg_method: str = "mean") -> dict:
    """Aggregate a per-entity score frame across entities.

    Ref multi_objective.py:35-58; returns a plain dict."""
    e = scores.columns[0]
    fn = {"mean": F.avg, "median": F.median}[agg_method]
    row = scores.agg(
        *[fn(c).alias(c) for c in scores.columns if c != e]
    ).first()
    return row.asDict()


def score_backtest(y_true, y_preds, agg_method: str | None = None) -> DataFrame:
    """Score stacked CV predictions (ref multi_objective.py:110-166)."""
    e, t, v = y_preds.columns[:3]
    if agg_method:
        fn = {
            "mean": F.avg(v),
            "median": F.median(v),
            "first": F.first(v),
            "last": F.last(v),
        }[agg_method]
        y_pred = y_preds.groupBy(e, t).agg(fn.alias(v))
    else:
        y_pred = y_preds.select(e, t, v)
    return score_forecast(y_true, y_pred, y_train=y_true)
