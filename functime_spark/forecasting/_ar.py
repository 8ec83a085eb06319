"""Autoregressive reduction machinery: global-model forecasting.

Mirrors functime forecasting/_ar.py + _reduction.py with a Spark-first
split of responsibilities:

- the lag design matrix stays distributed (window lags, one shuffle:
  ref make_reduction at _reduction.py:21-41);
- the global linear fit is distributed (`LinearBackend`: one
  sufficient-statistics aggregate, or MLlib for L1 without cd_iters;
  the reference collects to a single-node sklearn matrix at
  conversion.py:105-135);
- `ARForecaster` is the one strategy layer every global forecaster
  shares (ref fit_autoreg / predict_autoreg _ar.py:83-114, 337-374):
  recursive, direct and ensemble fits, the X_future state and the
  strategy dispatch;
- multi-step prediction runs as ONE Arrow pass (`predict_ar`): each
  batch of entities carries its lag buffer and the loop over fh
  happens vectorized in numpy around a per-family step function. The
  reference's per-step Python loop over Spark jobs (_ar.py:216-270)
  would pay fh job launches; this pays one.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from functime_spark.panel import panel_cols
from functime_spark.compat import broadcast_value
from functime_spark.forecasting.base import Forecaster, sorted_values


def make_reduction(y: DataFrame, lags: int, X: DataFrame | None = None) -> DataFrame:
    """(entity, time, y, y__lag_1..y__lag_lags) — valid rows only.

    Ref _reduction.py:21-41 lags then self-joins the target back; here
    target and lags come out of ONE window pass (no join, one shuffle).
    """
    p = panel_cols(y)
    w = Window.partitionBy(p.entity).orderBy(p.time)
    cols = [F.col(p.entity), F.col(p.time), F.col(p.target)]
    for k in range(1, lags + 1):
        cols.append(F.lag(p.target, k).over(w).alias(f"{p.target}__lag_{k}"))
    out = (
        y.select(*cols, (F.row_number().over(w) - 1).alias("__idx"))
        .filter(F.col("__idx") >= lags)
        .drop("__idx")
    )
    if X is not None:
        out = out.join(X, on=[p.entity, p.time], how="inner")
    return out


def make_y_lag(y: DataFrame, max_lag: int) -> DataFrame:
    """(entity, __buf, low): per-entity ascending array of the last
    `max_lag` target values + the series cutoff (max time).

    The recursion state (ref make_y_lag _reduction.py:66-77). One
    hash aggregate: collect (time, value) structs, sort in-expression,
    slice the tail — no window pass building an O(n) list per ROW
    (the previous formulation churned n lists per entity and kept 1).
    `low` rides in the SAME aggregate and through `predict_ar`, so
    predict stamps its timestamps from this n_entities-row state
    instead of re-scanning and re-aggregating the full panel.
    """
    p = panel_cols(y)
    sorted_vals = sorted_values(p)
    # Python [-k:] semantics: series shorter than max_lag keep all
    # rows (Spark's slice(-k) returns [] when |start| > length)
    tail = F.when(
        F.size(sorted_vals) <= max_lag, sorted_vals
    ).otherwise(F.slice(sorted_vals, -max_lag, max_lag))
    return y.groupBy(p.entity).agg(
        tail.alias("__buf"), F.max(p.time).alias("low")
    )


def stack_buffers(bufs, lags: int) -> np.ndarray:
    """(n, lags) state matrix from per-entity lag buffers, most recent
    last. Buffers shorter than `lags` (entities with < lags rows —
    make_y_lag keeps [-k:] semantics) are LEFT-padded with their first
    value (edge padding) instead of crashing np.stack on ragged input."""
    out = np.empty((len(bufs), lags), dtype="float64")
    for i, v in enumerate(bufs):
        a = np.asarray(v, dtype="float64")[-lags:]
        if len(a) < lags:
            fill = a[0] if len(a) else np.nan
            a = np.concatenate([np.full(lags - len(a), fill), a])
        out[i] = a
    return out


class LinearBackend:
    """Distributed linear fit → plain (coef, intercept) arrays.

    regParam/elasticNetParam map the reference's sklearn
    linear/lasso/ridge/elastic_net family (linear.py:10-203).

    OLS and ridge (elastic_net_param == 0) solve the normal equations:
    X'X / X'y are accumulated in ONE native aggregate pass (k(k+1)/2 +
    k sums, whole-stage codegen) and the kxk solve happens on the
    driver — no MLlib iteration, no vector assembly, exact solution.
    L1 paths (lasso/elastic-net) fall back to MLlib's coordinate
    solver."""

    def __init__(
        self,
        reg_param: float = 0.0,
        elastic_net_param: float = 0.0,
        fit_intercept: bool = True,
        cd_iters: int | None = None,
    ):
        self.reg_param = reg_param
        self.elastic_net_param = elastic_net_param
        self.fit_intercept = fit_intercept
        self.cd_iters = cd_iters

    @property
    def single_pass(self) -> bool:
        """True when fit is ONE aggregate job (normal-equation solve
        or sufficient-stats coordinate descent) — callers should not
        persist a design that is read once."""
        return (
            self.elastic_net_param == 0.0
            or self.reg_param == 0.0
            or self.cd_iters is not None
        )

    def fit(self, df: DataFrame, feature_cols: list, target_col: str):
        if self.elastic_net_param > 0.0 and self.reg_param > 0.0:
            if self.cd_iters is not None:
                return self._fit_cd(df, feature_cols, target_col)
            return self._fit_mllib(df, feature_cols, target_col)
        return self._fit_normal(df, feature_cols, target_col)

    def _suff_stats(self, df: DataFrame, feature_cols: list, target_col: str):
        """(xtx, xty, n, k): the m x m raw Gram (intercept column of
        ones appended when fit_intercept), X'y, the row count, and the
        feature count — ONE codegen aggregate pass, shared by the
        normal-equation and coordinate-descent paths. The k(k+1)/2
        aggregate expressions are built as ONE SQL string list:
        constructing them as Column objects costs one py4j round-trip
        per node (~0.6 s of driver time at lags=12), while selectExpr
        ships the whole batch in a single call and parses JVM-side."""
        k = len(feature_cols)
        names = [f"`{c}`" for c in feature_cols] + (
            ["1.0"] if self.fit_intercept else []
        )
        m = len(names)
        exprs = []
        for i in range(m):
            for j in range(i, m):
                exprs.append(f"sum({names[i]} * {names[j]}) AS xx_{i}_{j}")
            exprs.append(f"sum({names[i]} * `{target_col}`) AS xy_{i}")
        exprs.append("count(*) AS nn")
        # drop on features AND target: sum(x*y)/sum(y) skip NULL-target
        # rows implicitly, so count(*) must too, or n / the centering
        # means / the CD soft-threshold n*alpha are computed over a
        # larger row set than X'X and X'y (ADVICE r5)
        row = (
            df.na.drop(subset=list(feature_cols) + [target_col])
            .selectExpr(*exprs)
            .first()
        )
        xtx = np.zeros((m, m))
        xty = np.zeros(m)
        for i in range(m):
            for j in range(i, m):
                xtx[i, j] = xtx[j, i] = row[f"xx_{i}_{j}"]
            xty[i] = row[f"xy_{i}"]
        return xtx, xty, float(row["nn"]), k

    def _fit_cd(self, df: DataFrame, feature_cols: list, target_col: str):
        """Exact lasso / elastic net via cyclic coordinate descent on
        the CENTERED sufficient statistics: CD's per-coordinate update
        only needs X'X and X'y, so the corpus is read in the SAME one
        aggregate pass as OLS and the fixed-iteration loop is driver
        scalar arithmetic — deterministic and SQL-replayable, unlike
        MLlib's OWLQN trajectory. sklearn objective
        1/(2n)||y - Xw - b||^2 + alpha*(l1*|w|_1 + (1-l1)/2*|w|_2^2):
        threshold n*alpha*l1, denominator Gc_jj + n*alpha*(1-l1),
        intercept unpenalized via centering."""
        xtx, xty, n, k = self._suff_stats(df, feature_cols, target_col)
        if self.fit_intercept:
            sx = xtx[:k, k]
            sy = xty[k]
            mx, my = sx / n, sy / n
            gc = xtx[:k, :k] - np.outer(mx, mx) * n
            bc = xty[:k] - mx * sy
        else:
            mx, my = np.zeros(k), 0.0
            gc = xtx[:k, :k]
            bc = xty[:k]
        l1 = self.elastic_net_param
        thresh = n * self.reg_param * l1
        denom = np.diag(gc) + n * self.reg_param * (1.0 - l1)
        w = np.zeros(k)
        for _ in range(self.cd_iters):
            for j in range(k):
                # explicit index-order sum (not a dot + add-back): the
                # oracle replays this arithmetic term for term
                rho = bc[j]
                for ll in range(k):
                    if ll != j:
                        rho = rho - gc[j, ll] * w[ll]
                if denom[j] <= 0:
                    w[j] = 0.0
                else:
                    w[j] = np.sign(rho) * max(abs(rho) - thresh, 0.0) / denom[j]
        b = float(my - mx @ w) if self.fit_intercept else 0.0
        return w, b

    def _fit_normal(self, df: DataFrame, feature_cols: list, target_col: str):
        xtx, xty, _n, k = self._suff_stats(df, feature_cols, target_col)
        m = xtx.shape[0]
        if self.reg_param > 0:  # ridge: do not penalize the intercept
            reg = np.eye(m) * self.reg_param
            if self.fit_intercept:
                reg[m - 1, m - 1] = 0.0
            xtx = xtx + reg
        try:
            theta = np.linalg.solve(xtx, xty)
        except np.linalg.LinAlgError:
            # rank-deficient design (e.g. constant/duplicated lags):
            # minimum-norm solution, like sklearn's lstsq path
            theta = np.linalg.lstsq(xtx, xty, rcond=None)[0]
        if self.fit_intercept:
            return theta[:k], float(theta[k])
        return theta, 0.0

    def _fit_mllib(self, df: DataFrame, feature_cols: list, target_col: str):
        from pyspark.ml.feature import VectorAssembler
        from pyspark.ml.regression import LinearRegression

        assembled = VectorAssembler(
            inputCols=feature_cols, outputCol="__features", handleInvalid="skip"
        ).transform(df)
        lr = LinearRegression(
            featuresCol="__features",
            labelCol=target_col,
            regParam=self.reg_param,
            elasticNetParam=self.elastic_net_param,
            fitIntercept=self.fit_intercept,
        )
        model = lr.fit(assembled)
        return np.asarray(model.coefficients.toArray(), dtype="float64"), float(
            model.intercept
        )


def mean_ensemble(a: DataFrame, b: DataFrame) -> DataFrame:
    """ensemble strategy = mean of recursive + direct predictions
    (ref predict_autoreg _ar.py:357-371). Inputs: (entity, low, step,
    __yhat)."""
    keys = [a.columns[0], "low", "step"]
    return (
        a.withColumnRenamed("__yhat", "__r")
        .join(b.withColumnRenamed("__yhat", "__d"), on=keys)
        .select(*keys, ((F.col("__r") + F.col("__d")) / 2).alias("__yhat"))
    )


def attach_future_x(
    y_lag: DataFrame,
    X_future: DataFrame,
    x_cols: list,
    fh: int,
    on_short: str = "raise",
) -> DataFrame:
    """Join per-entity exogenous futures onto the recursion state.

    X_future is a panel (entity, time, x feats...); each feature is
    collected into an fh-long time-sorted array column `__x_<name>`
    (ref predict drops the time column and passes per-entity lists,
    _ar.py:212-214). Broadcast-joined: X_future has n_entities*fh rows.

    Coverage must be validated, not assumed: an entity missing from
    X_future (NULL arrays after the left join) or with fewer than fh
    future rows would otherwise forecast on NULL/zero exog values —
    NaN routing in tree models, silent zero-padding in the Arrow
    kernels. ``on_short`` picks the policy:

    - ``"raise"`` (default, direct predict): one eager n_entities-scale
      check, ValueError naming the offending entities.
    - ``"drop"`` (backtest): short entities are FILTERED out of the
      recursion state — no extra Spark job, and an irregular panel
      whose shortest series undershoots one split's test window skips
      that entity for that split instead of aborting the whole
      backtest (base.py's irregular-panel contract; ADVICE r5).
    """
    entity = y_lag.columns[0]
    px = panel_cols(X_future)
    aggs = [
        F.slice(sorted_values(px, F.col(c)), 1, fh).alias(f"__x_{c}")
        for c in x_cols
    ]
    xf = X_future.groupBy(F.col(px.entity).alias(entity)).agg(*aggs)
    out = y_lag.join(xf, on=entity, how="left")
    short = F.lit(False)
    for c in x_cols:
        col = F.col(f"__x_{c}")
        short = short | col.isNull() | (F.size(col) < fh)
    if on_short == "drop":
        return out.filter(~short)
    bad = out.filter(short).select(entity).limit(5).collect()
    if bad:
        names = ", ".join(str(r[0]) for r in bad)
        raise ValueError(
            f"X_future must cover every entity with at least fh={fh} "
            f"future rows; incomplete for entities: {names} ..."
        )
    return out


def _x_matrix(pdf, x_cols: list, fh: int, n_rows: int):
    """(rows, fh, n_x) exogenous tensor from the __x_ array columns."""
    out = np.zeros((n_rows, fh, len(x_cols)), dtype="float64")
    for j, c in enumerate(x_cols):
        col = pdf[f"__x_{c}"]
        for i, arr in enumerate(col):
            a = np.asarray(arr, dtype="float64") if arr is not None else np.zeros(0)
            m = min(fh, len(a))
            out[i, :m, j] = a[:m]
    return out


def predict_ar(
    state: DataFrame,
    fh: int,
    lags: int,
    payload,
    make_step: Callable,
    recursive: bool = True,
) -> DataFrame:
    """The one fh-step Arrow kernel: (entity, low, step, __yhat), step
    0-based, each entity's cutoff `low` passed through from the state.

    `payload` is broadcast once; `make_step(payload)` runs once per
    task and returns ``step(h, lag_feats, x_h) -> yhat`` where
    lag_feats is (n, lags) with lag_1 (most recent) first and x_h is
    the horizon's (n, n_x) exogenous slice of the state's ``__x_``
    arrays (None without X). Recursive mode appends each prediction
    to the lag buffer (ref predict_recursive _ar.py:216-270); direct
    mode keeps the last observed lags for every horizon (ref
    predict_direct _ar.py:277-330)."""
    entity = state.columns[0]
    dtypes = dict(state.dtypes)
    x_names = [c[len("__x_"):] for c in state.columns if c.startswith("__x_")]
    b = broadcast_value(state.sparkSession, payload)

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        step = make_step(b.value)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ents = pdf[entity].to_numpy()
            # state matrix: most recent last; columns = buffer
            buf = stack_buffers(pdf["__buf"], lags)
            xs = _x_matrix(pdf, x_names, fh, len(ents)) if x_names else None
            preds = np.empty((len(ents), fh), dtype="float64")
            for h in range(fh):
                yhat = step(
                    h, buf[:, ::-1][:, :lags], None if xs is None else xs[:, h, :]
                )
                preds[:, h] = yhat
                if recursive:
                    buf = np.concatenate([buf[:, 1:], yhat[:, None]], axis=1)
            yield pd.DataFrame(
                {
                    entity: np.repeat(ents, fh),
                    "low": np.repeat(pdf["low"].to_numpy(), fh),
                    "step": np.tile(np.arange(fh), len(ents)),
                    "__yhat": preds.ravel(),
                }
            )

    schema = f"{entity} {dtypes[entity]}, low {dtypes['low']}, step int, __yhat double"
    return state.mapInPandas(run, schema=schema)


def _per_horizon(make_step: Callable) -> Callable:
    """make_step over a list of per-horizon models: horizon h runs
    model min(h, H-1) (horizons past max_horizons reuse the last)."""

    def make(models):
        steps = [make_step(m) for m in models]
        return lambda h, lag, x: steps[min(h, len(steps) - 1)](h, lag, x)

    return make


class ARForecaster(Forecaster):
    """Global autoregressive forecaster: the strategy layer shared by
    every lag-design family (ref fit_autoreg / predict_autoreg
    _ar.py:83-114, 337-374).

    A family supplies ``_fit_design(design, cols, target)`` (one model
    on the named lag + exogenous columns) and ``_make_step(model)``
    (the `predict_ar` step for one fitted model). Strategies:
    recursive (default), direct (one model per horizon h on lag_h ..
    lag_{h+lags-1} of one shared design, ref fit_direct _ar.py:53-80)
    and ensemble (`mean_ensemble` of both)."""

    # True when _fit_design reads its design in one pass: the
    # recursive design is then not persisted (a cache-write for no reuse)
    _reads_design_once = False

    def __init__(
        self,
        freq: str,
        lags: int,
        strategy: str = "recursive",
        max_horizons: int | None = None,
        target_transform=None,
    ):
        super().__init__(freq=freq, lags=lags, target_transform=target_transform)
        self.strategy = strategy
        self.max_horizons = max_horizons
        if strategy in ("direct", "ensemble") and max_horizons is None:
            raise ValueError("direct/ensemble strategy requires max_horizons")

    def _fit_design(self, design: DataFrame, cols: list, target: str):
        raise NotImplementedError

    @staticmethod
    def _make_step(model) -> Callable:
        raise NotImplementedError

    def _fit(self, y: DataFrame, X: DataFrame | None = None):
        target = self.state["panel"].target
        # exogenous feature columns ride along in the design matrix
        # (ref make_reduction _reduction.py:32-34 keeps X columns)
        x_cols = list(X.columns[2:]) if X is not None else []
        self.state["x_cols"] = x_cols

        def fit_models(width: int, horizons, persist: bool) -> list:
            design = make_reduction(y, width, X)
            if persist:
                design = design.persist()
            models = [
                self._fit_design(
                    design,
                    [f"{target}__lag_{j}" for j in range(h, self.lags + h)] + x_cols,
                    target,
                )
                for h in horizons
            ]
            if persist:
                design.unpersist()
            return models

        if self.strategy in ("recursive", "ensemble"):
            self.state["recursive_model"] = fit_models(
                self.lags, [1], not self._reads_design_once
            )[0]
        if self.strategy in ("direct", "ensemble"):
            mh = self.max_horizons
            self.state["direct_models"] = fit_models(
                self.lags + mh - 1, range(1, mh + 1), True
            )
        self._fit_y_lag(y)

    def _fit_y_lag(self, y: DataFrame) -> None:
        """Persist the recursion state. It carries `low` (make_y_lag),
        which every predict path passes through to its values, so
        predict's timestamps read n_entities cached rows instead of
        re-aggregating the panel."""
        self.state["y_lag"] = make_y_lag(y, self.lags).persist()

    def _future_state(self, fh: int, X: DataFrame | None) -> DataFrame:
        state = self.state["y_lag"]
        x_cols = self.state.get("x_cols") or []
        if x_cols:
            if X is None:
                raise ValueError(
                    "forecaster was fit with exogenous X; predict needs X_future"
                )
            state = attach_future_x(state, X, x_cols, fh, on_short=self._x_on_short)
        return state

    def _predict_values(self, fh: int, X: DataFrame | None = None) -> DataFrame:
        state = self._future_state(fh, X)
        if self.strategy == "direct":
            return self._predict_direct(fh, state)
        preds = self._predict_recursive(fh, state)
        if self.strategy == "ensemble":
            preds = mean_ensemble(preds, self._predict_direct(fh, state))
        return preds

    def _predict_recursive(self, fh: int, state: DataFrame) -> DataFrame:
        model = self.state["recursive_model"]
        return predict_ar(state, fh, self.lags, model, self._make_step)

    def _predict_direct(self, fh: int, state: DataFrame) -> DataFrame:
        models = self.state["direct_models"]
        step = _per_horizon(self._make_step)
        return predict_ar(state, fh, self.lags, models, step, recursive=False)
