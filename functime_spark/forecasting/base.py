"""Forecaster base class: fit / predict / backtest / conformalize.

Mirrors functime base/forecaster.py:88-361. State is a small bundle of
driver-held DataFrames: whatever the concrete forecaster stores (last
values, lag buffers, fitted model params). The frame that produces a
forecast's values also carries each entity's cutoff `low` (its max
time — ref forecaster.py:196-199), so predict stamps the future
timestamps onto the values with one projection (`ranges.future_time`):
no second frame, no join.

Two shapes share this lifecycle: the global autoregressive models
(`_ar.ARForecaster`, whose `y_lag` recursion state holds `low`) and
the classical per-entity families (`EntityForecaster`: one per-entity
state frame holding `low`, a closed-form horizon expression over it).

The reference's entity string-cache (model.py:10-44) is skipped:
Tungsten handles string group keys natively (SURVEY §4.2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from functime_spark.conformal import enbpi
from functime_spark.forecasting.ranges import future_points, future_time
from functime_spark.panel import panel_cols
from functime_spark.serialize import SparkStatePickleMixin
from functime_spark.materialize import materialize as _materialize


class Forecaster(SparkStatePickleMixin):
    # exogenous-coverage policy consumed by attach_future_x in
    # ARForecaster._future_state: "raise" (eager check, direct predict)
    # or "drop" (backtest — short entities skip the split, no extra job)
    _x_on_short = "raise"

    def __init__(self, freq: str, lags: int = 1, target_transform=None):
        self.freq = freq
        self.lags = lags
        self.target_transform = target_transform
        self.state: dict = {}

    # -- lifecycle ----------------------------------------------------
    def fit(self, y: DataFrame, X: DataFrame | None = None):
        p = panel_cols(y)
        if len(p.values) != 1:
            raise ValueError(f"y must have exactly 3 columns, got {y.columns}")
        if self.target_transform is not None:
            y = self.target_transform.transform(y)
        self.state["panel"] = p
        self._fit(y, X)
        return self

    def predict(self, fh: int, X: DataFrame | None = None) -> DataFrame:
        y_pred = self._predict(fh, X)
        if self.target_transform is not None:
            y_pred = self.target_transform.invert(y_pred)
        return y_pred

    def _predict(self, fh: int, X: DataFrame | None = None) -> DataFrame:
        """Stamp each value row with its future timestamp: one
        projection over `_predict_values`, no join."""
        p = self.state["panel"]
        vals = self._predict_values(fh, X)
        time = future_time(
            F.col("low"), F.col("step"), self.freq, dict(vals.dtypes)["low"]
        )
        return vals.filter(F.col("step") < future_points(fh, self.freq)).select(
            p.entity, time.alias(p.time), F.col("__yhat").alias(p.target)
        )

    def _predict_values(self, fh: int, X: DataFrame | None = None) -> DataFrame:
        """(entity, low, step, __yhat) with step 0-based and `low` the
        entity's cutoff — predictions that carry what predict() needs
        to time-stamp them; backtest() ignores `low` and aligns steps
        to the actual test timestamps."""
        raise NotImplementedError

    def _clone(self) -> "Forecaster":
        """An unfitted copy for a backtest split: a new object of the
        same type holding the instance's attributes (shallow) and an
        empty state. Not copy.copy: the pickle mixin's __getstate__
        would collect every fitted state frame. __init__ does not run
        again, so constructor-time work (the GBT flavours'
        hyperparameter translation and its warnings) happens once."""
        fc = object.__new__(type(self))
        fc.__dict__.update(self.__dict__)
        fc.state = {}
        return fc

    def __call__(self, y: DataFrame, fh: int, X: DataFrame | None = None, X_future: DataFrame | None = None) -> DataFrame:
        return self.fit(y, X).predict(fh, X_future)

    # -- subclass hooks ----------------------------------------------
    def _fit(self, y: DataFrame, X: DataFrame | None = None):  # pragma: no cover
        raise NotImplementedError

    def _materialize_state(self) -> None:
        """localCheckpoint every DataFrame in the fitted state.

        All state frames are n_entities-scale aggregates (last values,
        seasonal tails, lag buffers); materializing them cuts
        downstream prediction plans from re-deriving each aggregate off
        the full panel to reading a cached block. Ensemble callers
        (elite) use this so a bank of k models doesn't re-scan the
        panel k times per predict."""
        for key, val in self.state.items():
            if isinstance(val, DataFrame):
                self.state[key] = _materialize(val)

    # -- evaluation --------------------------------------------------
    def backtest(
        self,
        y: DataFrame,
        test_size: int = 1,
        step_size: int = 1,
        n_splits: int = 5,
        window_size: int | None = None,
        X: DataFrame | None = None,
    ) -> DataFrame:
        """Expanding/sliding-window refit-and-predict; returns stacked
        predictions with a `split` column. Ref backtesting.py:108-250.

        Predictions are aligned to the ACTUAL test timestamps (per-entity
        step join), so irregular panels backtest correctly — the
        reference assumes freq-regular series here.

        The stacked result is localCheckpoint-ed: it is tiny
        (n_splits x n_entities x test_size rows) while its lineage embeds
        n_splits window-split + refit subtrees. Materializing cuts every
        downstream plan (conformalize / rank / elite) from ~20 re-scans
        of the source panel to zero, and pins the values: re-executions
        of the un-truncated lineage tripped a false broadcast-exchange
        reuse in the deep union-of-joins plan (session-sticky row
        duplication — every output row matched a second, column-swapped
        quantile row; spark.sql.exchange.reuse=false confirmed the
        diagnosis)."""
        from functime_spark.operators.cross_validation import _annotate, _window_split

        p = panel_cols(y)
        # annotate (per-entity row index + length) ONCE and cache it:
        # every split's train AND test is a cheap filter on this frame,
        # so the whole backtest pays one window+shuffle pass over the
        # panel instead of 2*n_splits.
        ann = _annotate(y)
        annotated = (ann[0].persist(), ann[1])
        splits = _window_split(
            y, test_size, n_splits, step_size, window_size, annotated=annotated
        )
        preds = []
        for i, (train, test) in splits.items():
            # each split refits a clone. Clones share
            # self.target_transform (fit-on-transform resets its state
            # each split; the loop is sequential, so each split's
            # invert sees that split's fitted params)
            fitted = self._clone()
            # short-coverage entities (series shorter than this split's
            # test window, or too short for a forecaster's init — e.g.
            # holt_winters' two-cycle requirement) drop out of the
            # split instead of aborting the backtest — irregular
            # panels are supported here. Set BEFORE fit so _fit
            # implementations can honor the drop convention too.
            fitted._x_on_short = "drop"
            # X joins the train design on (entity, time), so passing the
            # full exogenous panel is safe; the predict side must see
            # ONLY the test-time rows (attach_future_x slices the
            # earliest fh rows of whatever it is given)
            fitted.fit(train, X)
            X_test = (
                X.join(
                    test.select(p.entity, p.time), on=[p.entity, p.time], how="left_semi"
                )
                if X is not None
                else None
            )
            vals = fitted._predict_values(test_size, X_test)
            step = (
                F.row_number().over(Window.partitionBy(p.entity).orderBy(p.time)) - 1
            )
            test_idx = test.withColumn("step", step)
            y_pred = test_idx.join(vals, on=[p.entity, "step"], how="inner").select(
                p.entity, p.time, F.col("__yhat").alias(p.target)
            )
            if fitted.target_transform is not None:
                y_pred = fitted.target_transform.invert(y_pred)
            preds.append(y_pred.withColumn("split", F.lit(i)))
        out = preds[0]
        for nxt in preds[1:]:
            out = out.unionByName(nxt)
        # eager: runs while the annotated frame is still cached
        out = _materialize(out)
        annotated[0].unpersist()
        return out

    def conformalize(
        self,
        y: DataFrame,
        fh: int,
        alphas: list | None = None,
        test_size: int = 1,
        n_splits: int = 3,
        X: DataFrame | None = None,
        X_future: DataFrame | None = None,
    ) -> DataFrame:
        """ENBPI-style conformal intervals. Reference semantics
        (conformal.py:6-74): residual = actual - pred (backtesting.py:36
        ``y_train - y_pred``), each alpha is a DIRECT residual-quantile
        level — one output row per alpha, labeled ``int(alpha*100)``
        (conformal.py:70-72) — and quantile-adjusted rows cover BOTH
        the future point forecast and the backtest predictions
        (conformal.py:52-63). Documented divergence: residuals are
        out-of-sample backtest residuals (the reference replays
        in-sample refit residuals); quantiles interpolate linearly
        (the reference's Polars default is nearest)."""
        alphas = alphas or [0.1, 0.9]
        p = panel_cols(y)
        # backtest() localCheckpoints its (tiny) result; the residuals
        # and the point forecast are likewise n_entities-scale, so
        # materializing them keeps the final plan free of the
        # panel-rescanning lineage (and of the false-exchange-reuse
        # duplication — see backtest()).
        y_preds = self.backtest(y, test_size=test_size, n_splits=n_splits, X=X)
        target = y_preds.columns[2]
        actual = y.withColumnRenamed(p.target, "__actual")
        resid = _materialize(
            y_preds.join(actual, on=[p.entity, p.time], how="inner").select(
                p.entity, p.time, (F.col("__actual") - F.col(target)).alias("__resid")
            )
        )
        y_point = _materialize(self.fit(y, X).predict(fh, X_future))
        combined = y_point.select(p.entity, p.time, target).unionByName(
            y_preds.select(p.entity, p.time, target)
        )
        out = enbpi(combined, resid, alphas)
        # enbpi labels each row by its raw alpha; the reference's
        # conformalize labels it int(alpha*100)
        label = F.lit(int(round(alphas[-1] * 100)))
        for a in reversed(alphas[:-1]):
            is_a = F.col("quantile") == float(a)
            label = F.when(is_a, int(round(a * 100))).otherwise(label)
        return out.withColumn("quantile", label)


class EntityForecaster(Forecaster):
    """Fit/predict skeleton of the classical per-entity families
    (naive, snaive, ses, holt, theta, croston, holt_winters). A family
    supplies two things: `_fit_entities`, one frame (entity, low,
    params...) with one row per entity, and `_horizon`, the forecast
    at the 0-based `step` column as an expression over that row.
    The step explode is served here, once, and carries `low` through
    to predict's timestamps.

    The smoothing families (ses, holt, theta, croston) build that row
    from `series`: one aggregate holding each entity's time-sorted
    targets, over which an `F.aggregate` fold runs the family's
    recursion. A NULL target is read as 0.0 — the same forecast as
    the zero-filled series."""

    def _fit(self, y: DataFrame, X: DataFrame | None = None):
        # the one state frame: its `low` stamps predict's timestamps
        self.state["entities"] = self._fit_entities(y)

    def _fit_entities(self, y: DataFrame) -> DataFrame:  # pragma: no cover
        raise NotImplementedError

    def _horizon(self, step: Column) -> Column:  # pragma: no cover
        raise NotImplementedError

    def _predict_values(self, fh: int, X: DataFrame | None = None) -> DataFrame:
        entity = self.state["panel"].entity
        rows = self.state["entities"].select(
            "*", F.explode(F.sequence(F.lit(0), F.lit(fh - 1))).alias("step")
        )
        return rows.select(
            entity, "low", "step", self._horizon(F.col("step")).alias("__yhat")
        )


def sorted_values(p, value: Column | None = None) -> Column:
    """Aggregate: `value` (default: the target) of each row of the
    group as one array in time order — one hash aggregate (collect +
    in-expression sort), the same for every layout of the input."""
    v = F.col(p.target) if value is None else value
    pairs = F.array_sort(
        F.collect_list(F.struct(F.col(p.time).alias("t"), v.alias("v")))
    )
    return F.transform(pairs, lambda s: s["v"])


def series(y: DataFrame, p) -> DataFrame:
    """(entity, low, __y): one aggregate per entity, `__y` its targets
    in time order as doubles with a NULL read as 0.0 — the one input
    the smoothing folds (ses, holt, theta, croston) run over."""
    filled = F.coalesce(F.col(p.target).cast("double"), F.lit(0.0))
    return y.groupBy(p.entity).agg(
        F.max(p.time).alias("low"), sorted_values(p, filled).alias("__y")
    )
