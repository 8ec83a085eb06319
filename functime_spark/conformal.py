"""Standalone conformal-interval helpers (ref conformal.py:6-74).

`Forecaster.conformalize` runs the backtest -> residual flow and
builds its intervals here; `enbpi` is the reference's lower-level
contract, for users who already hold predictions and residuals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from functime_spark.panel import panel_cols


def enbpi(
    y_pred: DataFrame,
    y_resid: DataFrame,
    alphas: list,
    drop_missing: bool = False,
) -> DataFrame:
    """Ensemble batch prediction intervals (ref conformal.py:6-38):
    per-entity residual quantile at each alpha added to the point
    forecast; one output row per (row, alpha), labeled by the raw
    alpha in a ``quantile`` column.

    Residual frame: (entity, ..., residual) with the residual LAST,
    matching the reference's ``y_resid.columns[-1]``. One quantile
    aggregate over the residuals (n_entities x n_alphas rows, joined
    back) + ONE posexplode pass over y_pred — not an n_alphas-way
    self-union, so the prediction frame scans once. No forced
    broadcast: the quantile frame is one row per entity, which can be
    arbitrarily large on a high-cardinality panel — AQE converts the
    join to broadcast at runtime when it actually fits.

    Entities in ``y_pred`` with no residuals match the reference's
    LEFT join: every prediction row is kept, with NULL interval
    bounds for the quantile-less entities (ref conformal.py
    how='left'). Pass ``drop_missing=True`` to drop those rows
    instead (inner join) when NULL bounds would poison a downstream
    consumer."""
    p = panel_cols(y_pred)
    target = y_pred.columns[2]
    resid_col = y_resid.columns[-1]
    q_aggs = [
        F.percentile(resid_col, F.lit(float(a))).alias(f"__q_{i}")
        for i, a in enumerate(alphas)
    ]
    quantiles = y_resid.groupBy(F.col(y_resid.columns[0]).alias(p.entity)).agg(
        *q_aggs
    )
    how = "inner" if drop_missing else "left"
    joined = y_pred.join(quantiles, on=p.entity, how=how)
    pairs = F.explode(
        F.array(
            *[
                F.struct(
                    (F.col(target) + F.col(f"__q_{i}")).alias(target),
                    F.lit(float(a)).alias("quantile"),
                )
                for i, a in enumerate(alphas)
            ]
        )
    ).alias("__pair")
    return joined.select(p.entity, p.time, pairs).select(
        p.entity, p.time, f"__pair.{target}", "__pair.quantile"
    )
