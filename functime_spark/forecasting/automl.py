"""auto_* forecasters: hyperparameter search with expanding-window CV.

Mirrors functime forecasting/automl.py:22-311 (FLAML CFO over lags x
model hyperparameters, scored by expanding-window CV — fit_cv
_ar.py:117-209, _evaluate.py:111-171). FLAML is not available here, so
the default search is **successive halving with nested CV budgets**
(the same cheap-first pruning idea as FLAML's CFO cost-frugal search):

- round 1 scores EVERY candidate on the cheapest fidelity — the last
  expanding-window split only (one refit per candidate);
- the top half survives; survivors are then evaluated on the
  remaining earlier splits, and their round-1 predictions are REUSED,
  so a survivor's final score is byte-identical to what the full
  n_splits backtest would produce (expanding splits are nested: split
  j of an n-split backtest == the single split of a backtest on the
  panel with the last (n-1-j)*step rows per entity trimmed).

The winner therefore matches the exhaustive grid whenever the grid
winner is not bottom-half on the last split, while fitting
N + ceil(N/2)*(n_splits-1) split-models instead of N*n_splits.
`search="grid"` keeps the exhaustive loop, and `search="cfo"` adds a
deterministic re-expression of FLAML's CFO itself — directional local
search over a continuous/ordinal space (lags plus per-family dims such
as log-scale alpha) with geometric step adaptation and a low-cost start
point (see _search_cfo). `n_fit_trials_` reports the split-model fit
count in every mode. Trials are driver-orchestrated
Spark jobs, which at cluster scale parallelize naturally (each trial
is a distributed fit; concurrent trials can share the cluster via
FAIR scheduling).

The fitted result exposes `best_params_` and behaves as the winning
forecaster refit on the full panel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from functime_spark.forecasting.base import Forecaster
from functime_spark.forecasting.croston import croston
from functime_spark.forecasting.holt import holt
from functime_spark.forecasting.hw import holt_winters
from functime_spark.forecasting.knn import knn
from functime_spark.forecasting.linear import (
    elastic_net,
    lasso,
    linear_model,
    ridge,
)
from functime_spark.forecasting.ses import ses
from functime_spark.forecasting.tree import gradient_boosted_model
from functime_spark.materialize import pinned
from functime_spark.operators.metrics import smape


def _cv_score(
    maker, y: DataFrame, test_size: int, n_splits: int, X: DataFrame | None = None
) -> float:
    """Mean panel SMAPE over expanding-window backtest splits."""
    fc = maker()
    preds = fc.backtest(y, test_size=test_size, n_splits=n_splits, X=X)
    return _pooled_smape(y, preds.drop("split"))


def _pooled_smape(y: DataFrame, preds: DataFrame) -> float:
    """avg over entities of the per-entity sum-ratio SMAPE on the
    stacked predictions — the grid's scoring, factored out so the
    halving search can score reused prediction unions identically."""
    merged = smape(y, preds)
    row = merged.agg(F.avg("smape").alias("s")).first()
    return float(row["s"]) if row["s"] is not None else float("inf")


def _trim_last(y: DataFrame, n_rows: int) -> DataFrame:
    """Drop the last `n_rows` observations of every entity (by time).
    Expanding-window splits are nested, so a 1-split backtest on this
    frame reproduces an earlier split of the full backtest exactly."""
    from pyspark.sql import Window

    entity, time = y.columns[0], y.columns[1]
    w = Window.partitionBy(entity).orderBy(F.col(time).desc())
    return (
        y.withColumn("__rn_trim", F.row_number().over(w))
        .filter(F.col("__rn_trim") > n_rows)
        .drop("__rn_trim")
    )


class _auto_base(Forecaster):
    """Grid search driver. Subclasses define _space() and _family."""

    _family = linear_model

    def __init__(
        self,
        freq: str,
        min_lags: int = 3,
        max_lags: int = 12,
        test_size: int = 4,
        n_splits: int = 2,
        target_transform=None,
        search: str = "halving",
        cfo_max_trials: int = 24,
        **family_kwargs,
    ):
        super().__init__(freq=freq, lags=max_lags, target_transform=target_transform)
        self.min_lags = min_lags
        self.max_lags = max_lags
        self.test_size = test_size
        self.n_splits = n_splits
        self.search = search
        self.cfo_max_trials = cfo_max_trials
        self.family_kwargs = family_kwargs
        self.best_params_: dict = {}
        self.n_fit_trials_: int = 0

    def _space(self) -> list:
        """List of param dicts to try (beyond lags)."""
        return [{}]

    def _lag_grid(self) -> list:
        lo, hi = self.min_lags, self.max_lags
        grid = sorted({lo, (lo + hi) // 2, hi})
        return [g for g in grid if g >= 1]

    def _candidates(self) -> list:
        """Enumeration order doubles as the deterministic tie-break."""
        return [
            {"freq": self.freq, "lags": lags, **params, **self.family_kwargs}
            for lags in self._lag_grid()
            for params in self._space()
        ]

    def _fallback_candidate(self) -> dict:
        """Config used when EVERY candidate fails (degenerate panel):
        the cheapest one — fewest lags, no extra space params."""
        return {
            "freq": self.freq,
            "lags": self._lag_grid()[0],
            **self.family_kwargs,
        }

    def _fit(self, y: DataFrame, X: DataFrame | None = None):
        # every trial's backtest and the final refit read y
        with pinned(y) as y:
            self.n_fit_trials_ = 0
            if self.search == "grid":
                best, best_score = self._search_grid(y, X)
            elif self.search == "cfo":
                best, best_score = self._search_cfo(y, X)
            else:
                best, best_score = self._search_halving(y, X)
            if best is None:  # degenerate panel: fall back to smallest config
                best = self._fallback_candidate()
                best_score = float("inf")
            self.best_params_ = best
            self.best_score_ = best_score
            inner = self._family(**best).fit(y, X)
        self.state.update(inner.state)
        self._inner = inner

    def _search_grid(self, y: DataFrame, X: DataFrame | None = None):
        """Exhaustive: every candidate pays the full n_splits backtest."""
        best, best_score = None, float("inf")
        for kwargs in self._candidates():
            try:
                score = _cv_score(
                    lambda kw=kwargs: self._family(**kw),
                    y,
                    self.test_size,
                    self.n_splits,
                    X,
                )
            except Exception:
                continue
            self.n_fit_trials_ += self.n_splits
            if score < best_score:
                best, best_score = kwargs, score
        return best, best_score

    def _search_halving(self, y: DataFrame, X: DataFrame | None = None):
        """Successive halving over nested CV budgets: score everyone on
        the LAST split only (one refit each), keep the top half, then
        evaluate survivors on the earlier splits — REUSING the round-1
        predictions, so a survivor's pooled score equals the full
        backtest's byte-for-byte (splits are nested, see _trim_last)."""
        import math

        # round 1: cheapest fidelity — the last expanding split
        round1 = []  # (score, order, kwargs, last_split_preds)
        for order, kwargs in enumerate(self._candidates()):
            try:
                preds = (
                    self._family(**kwargs)
                    .backtest(y, test_size=self.test_size, n_splits=1, X=X)
                    .drop("split")
                )
                score = _pooled_smape(y, preds)
            except Exception:
                continue
            self.n_fit_trials_ += 1
            round1.append((score, order, kwargs, preds))
        if not round1:
            return None, float("inf")
        if self.n_splits <= 1:
            score, _, kwargs, _ = min(round1, key=lambda t: (t[0], t[1]))
            return kwargs, score
        # a single candidate still proceeds to round 2 so best_score_
        # is always the pooled full-backtest score, comparable with
        # search="grid" and across forecasters
        round1.sort(key=lambda t: (t[0], t[1]))
        survivors = round1[: max(2, math.ceil(len(round1) / 2))]
        # round 2: earlier splits for survivors only; union with the
        # kept round-1 predictions reproduces the full pooled score
        best, best_order, best_score = None, None, float("inf")
        for score1, order, kwargs, preds_last in survivors:
            all_preds = preds_last
            try:
                for j in range(1, self.n_splits):
                    trimmed = _trim_last(y, j)  # step_size=1 in backtest
                    pj = (
                        self._family(**kwargs)
                        .backtest(trimmed, test_size=self.test_size, n_splits=1, X=X)
                        .drop("split")
                    )
                    self.n_fit_trials_ += 1
                    all_preds = all_preds.unionByName(pj)
                score = _pooled_smape(y, all_preds)
            except Exception:
                continue
            if score < best_score or (
                score == best_score and best_order is not None and order < best_order
            ):
                best, best_order, best_score = kwargs, order, score
        if best is None:  # every survivor failed round 2: best of round 1
            score, _, kwargs, _ = min(round1, key=lambda t: (t[0], t[1]))
            return kwargs, score
        return best, best_score

    def _cfo_space(self) -> dict:
        """Continuous/ordinal search space for search="cfo":
        name -> (low, high, scale, kind) with scale in {"linear","log"}
        and kind in {"int","float"}. `lags` is added automatically."""
        return {}

    def _cfo_full_space(self) -> dict:
        """The complete CFO space: lags plus the family dims. The
        smoothing subclasses override this to drop the lags dim — their
        forecasters have no lag design matrix at all."""
        space = {"lags": (self.min_lags, self.max_lags, "linear", "int")}
        space.update(self._cfo_space())
        return space

    def _search_cfo(self, y: DataFrame, X: DataFrame | None = None):
        """CFO-style local search (the reference defers to FLAML's CFO
        optimizer, ref automl.py:22-311: Wu et al. 2021, "Frugal
        Optimization for Cost-related Hyperparameters"), re-expressed
        WITHOUT an RNG so the whole trajectory is deterministic and
        testable: start from the LOW-COST config (fewest lags, space
        lows), probe +/- step along each coordinate in a fixed order,
        move greedily on first improvement (doubling that coordinate's
        step), halve every step after a full sweep without
        improvement, stop when all steps underflow their resolution or
        the trial budget is spent. Cost frugality is the same two
        levers as FLAML's: the cheapest start point and a cheap
        fidelity during search (last-split backtest, exactly
        _search_halving's round-1 fidelity); the winner then pays the
        one full pooled backtest so best_score_ stays comparable
        across search modes."""
        import math

        space = self._cfo_full_space()
        dims = sorted(space)

        def to_z(name, v):
            lo, hi, scale, _ = space[name]
            return math.log10(v) if scale == "log" else float(v)

        def from_z(name, z):
            lo, hi, scale, kind = space[name]
            v = 10.0**z if scale == "log" else z
            v = min(max(v, lo), hi)
            return int(round(v)) if kind == "int" else v

        def bounds_z(name):
            lo, hi, scale, _ = space[name]
            return (
                (math.log10(lo), math.log10(hi))
                if scale == "log"
                else (float(lo), float(hi))
            )

        def kwargs_of(cfg):
            return {"freq": self.freq, **cfg, **self.family_kwargs}

        cache: dict = {}

        def cheap_score(cfg):
            key = tuple(sorted(cfg.items()))
            if key not in cache:
                try:
                    preds = (
                        self._family(**kwargs_of(cfg))
                        .backtest(y, test_size=self.test_size, n_splits=1, X=X)
                        .drop("split")
                    )
                    cache[key] = _pooled_smape(y, preds)
                except Exception:
                    cache[key] = float("inf")
                self.n_fit_trials_ += 1
            return cache[key]

        # low-cost init: every dim at its low bound (fewest lags is the
        # cheapest design matrix; for scale-free dims low is as good a
        # deterministic anchor as any)
        cur = {d: from_z(d, bounds_z(d)[0]) for d in dims}
        cur_score = cheap_score(cur)
        steps = {d: (bounds_z(d)[1] - bounds_z(d)[0]) / 4.0 for d in dims}
        if all(s == 0.0 for s in steps.values()):
            raise ValueError(
                "search='cfo' has no searchable dimension (every space "
                "bound is pinned); use search='grid'/'halving' or widen "
                "_cfo_space"
            )
        resolution = {
            d: (1.0 if space[d][3] == "int" else (bounds_z(d)[1] - bounds_z(d)[0]) / 64.0)
            for d in dims
        }
        budget = self.cfo_max_trials
        while self.n_fit_trials_ < budget and any(
            steps[d] >= resolution[d] for d in dims
        ):
            improved = False
            for d in dims:
                if steps[d] < resolution[d]:
                    continue
                for sign in (1.0, -1.0):
                    if self.n_fit_trials_ >= budget:
                        break
                    z = to_z(d, cur[d]) + sign * steps[d]
                    lo_z, hi_z = bounds_z(d)
                    cand = dict(cur)
                    cand[d] = from_z(d, min(max(z, lo_z), hi_z))
                    if cand == cur:
                        continue
                    s = cheap_score(cand)
                    if s < cur_score:
                        cur, cur_score = cand, s
                        steps[d] *= 2.0
                        improved = True
                        break
                if improved or self.n_fit_trials_ >= budget:
                    break
            if not improved:
                steps = {d: v / 2.0 for d, v in steps.items()}
        if not math.isfinite(cur_score):
            return None, float("inf")
        # winner pays the full pooled backtest once, like grid/halving
        best_kwargs = kwargs_of(cur)
        try:
            full = _cv_score(
                lambda: self._family(**best_kwargs),
                y,
                self.test_size,
                self.n_splits,
                X,
            )
            self.n_fit_trials_ += self.n_splits
        except Exception:
            full = cur_score
        return best_kwargs, full

    def _predict_values(self, fh: int, X: DataFrame | None = None) -> DataFrame:
        return self._inner._predict_values(fh, X)


class auto_linear_model(_auto_base):
    """Ref automl.py auto_linear_model: search over lags."""

    _family = linear_model


class auto_lasso(_auto_base):
    _family = lasso

    def _space(self) -> list:
        return [{"alpha": a} for a in (0.1, 1.0)]

    def _cfo_space(self) -> dict:
        return {"alpha": (1e-3, 10.0, "log", "float")}


class auto_ridge(_auto_base):
    _family = ridge

    def _space(self) -> list:
        return [{"alpha": a} for a in (0.1, 1.0)]

    def _cfo_space(self) -> dict:
        return {"alpha": (1e-3, 10.0, "log", "float")}


class auto_elastic_net(_auto_base):
    _family = elastic_net

    def _space(self) -> list:
        return [{"alpha": 0.5, "l1_ratio": r} for r in (0.25, 0.75)]

    def _cfo_space(self) -> dict:
        return {
            "alpha": (1e-3, 10.0, "log", "float"),
            "l1_ratio": (0.05, 0.95, "linear", "float"),
        }


class auto_knn(_auto_base):
    _family = knn

    def _space(self) -> list:
        return [{"n_neighbors": k} for k in (3, 5)]

    def _cfo_space(self) -> dict:
        return {"n_neighbors": (2, 10, "linear", "int")}


class auto_lightgbm(_auto_base):
    """Ref automl.py:22-118 (FLAML lgbm); GBT backbone here."""

    _family = gradient_boosted_model

    def _space(self) -> list:
        return [
            {"max_iter": 10, "max_depth": 3},
            {"max_iter": 20, "max_depth": 5},
        ]

    def _cfo_space(self) -> dict:
        return {
            "max_iter": (5, 30, "linear", "int"),
            "max_depth": (2, 6, "linear", "int"),
        }


class _auto_smoothing(_auto_base):
    """Parameter search for the exponential-smoothing family:
    the smoothing constants ARE the hyperparameters — there is no lag
    design matrix — so candidates come straight from _space() and the
    CFO space carries no lags dim. Reuses the ENTIRE _auto_base
    machinery (grid / halving-with-nested-splits / deterministic CFO,
    pooled-SMAPE scoring, winner refit on the full panel), answering
    the first question a smoothing user asks: "what alpha?"."""

    def __init__(
        self,
        freq: str,
        test_size: int = 4,
        n_splits: int = 2,
        target_transform=None,
        search: str = "halving",
        cfo_max_trials: int = 24,
        **family_kwargs,
    ):
        super().__init__(
            freq=freq,
            min_lags=1,
            max_lags=1,
            test_size=test_size,
            n_splits=n_splits,
            target_transform=target_transform,
            search=search,
            cfo_max_trials=cfo_max_trials,
            **family_kwargs,
        )

    def _candidates(self) -> list:
        return [
            {"freq": self.freq, **params, **self.family_kwargs}
            for params in self._space()
        ]

    def _fallback_candidate(self) -> dict:
        return self._candidates()[0]

    def _cfo_full_space(self) -> dict:
        # no lags dim: the smoothing constructors reject it, and a
        # pinned zero-step dim would be dead weight anyway
        return dict(self._cfo_space())


class auto_ses(_auto_smoothing):
    """SES with alpha chosen by expanding-window CV."""

    _family = ses

    def _space(self) -> list:
        # dyadic grid: 1-a is exact in every IEEE engine, so the
        # forecast_auto_ses oracle replays the selection bit-for-bit
        return [{"alpha": a} for a in (0.25, 0.5, 0.75)]

    def _cfo_space(self) -> dict:
        return {"alpha": (0.05, 0.95, "linear", "float")}


class auto_holt(_auto_smoothing):
    """Holt trend smoothing with (alpha, beta, phi) chosen by CV —
    phi < 1 candidates make damping part of the search."""

    _family = holt

    def _space(self) -> list:
        return [
            {"alpha": a, "beta": b, "phi": p}
            for a in (0.2, 0.5, 0.8)
            for b in (0.1, 0.3)
            for p in (0.8, 1.0)
        ]

    def _cfo_space(self) -> dict:
        return {
            "alpha": (0.05, 0.95, "linear", "float"),
            "beta": (0.05, 0.95, "linear", "float"),
            "phi": (0.5, 1.0, "linear", "float"),
        }


class auto_hw(_auto_smoothing):
    """Holt-Winters with (alpha, beta, gamma) chosen by CV; pass sp
    (and seasonal=) through, e.g. auto_hw(freq='1h', sp=24). Entities
    too short for a candidate's two-cycle init drop out of its
    backtest splits rather than disqualifying the candidate."""

    _family = holt_winters

    def _space(self) -> list:
        return [
            {"alpha": a, "beta": b, "gamma": g}
            for a in (0.2, 0.5)
            for b in (0.1, 0.3)
            for g in (0.1, 0.3)
        ]

    def _cfo_space(self) -> dict:
        return {
            "alpha": (0.05, 0.95, "linear", "float"),
            "beta": (0.05, 0.95, "linear", "float"),
            "gamma": (0.05, 0.95, "linear", "float"),
        }


class auto_croston(_auto_smoothing):
    """Croston with (alpha, variant) chosen by CV — the grid crosses
    the smoothing constant with classic/SBA; CFO searches alpha with
    the variant taken from family_kwargs (categorical dims stay out
    of the directional search)."""

    _family = croston

    def _space(self) -> list:
        return [
            {"alpha": a, "variant": v}
            for a in (0.1, 0.2, 0.3)
            for v in ("croston", "sba")
        ]

    def _cfo_space(self) -> dict:
        return {"alpha": (0.02, 0.5, "linear", "float")}


class _fixed_lag_cv(_auto_base):
    """Regularization-only CV at a FIXED lag count — the analog of the
    reference's sklearn *CV regressors (linear.py:10-203: LassoCV /
    RidgeCV / ElasticNetCV choose alpha internally; lags are a user
    parameter there, not searched)."""

    def __init__(
        self,
        freq: str,
        lags: int = 3,
        test_size: int = 4,
        n_splits: int = 2,
        target_transform=None,
        search: str = "halving",
        **family_kwargs,
    ):
        super().__init__(
            freq=freq,
            min_lags=lags,
            max_lags=lags,
            test_size=test_size,
            n_splits=n_splits,
            target_transform=target_transform,
            search=search,
            **family_kwargs,
        )


class lasso_cv(_fixed_lag_cv):
    """Ref forecasting/linear.py:161-178 (LassoCV)."""

    _family = lasso

    def _space(self) -> list:
        return [{"alpha": a} for a in (0.01, 0.1, 1.0)]

    def _cfo_space(self) -> dict:
        # lags is a pinned zero-step dim here, so without a live alpha
        # dim search="cfo" would silently evaluate nothing (round-5
        # review finding)
        return {"alpha": (1e-3, 10.0, "log", "float")}


class ridge_cv(_fixed_lag_cv):
    """Ref forecasting/linear.py (RidgeCV)."""

    _family = ridge

    def _space(self) -> list:
        return [{"alpha": a} for a in (0.01, 0.1, 1.0)]

    def _cfo_space(self) -> dict:
        return {"alpha": (1e-3, 10.0, "log", "float")}


class elastic_net_cv(_fixed_lag_cv):
    """Ref forecasting/linear.py (ElasticNetCV)."""

    _family = elastic_net

    def _cfo_space(self) -> dict:
        return {
            "alpha": (1e-3, 10.0, "log", "float"),
            "l1_ratio": (0.05, 0.95, "linear", "float"),
        }

    def _space(self) -> list:
        return [
            {"alpha": a, "l1_ratio": r}
            for a in (0.1, 1.0)
            for r in (0.25, 0.75)
        ]


class flaml_lightgbm(auto_lightgbm):
    """Ref forecasting/lightgbm.py:80-137: FLAML-tuned LightGBM.
    FLAML/LightGBM are absent in this environment; the deterministic
    grid-CV over the GBT backbone covers the same contract (searchable
    boosted-tree forecaster behind the reference's export name)."""
