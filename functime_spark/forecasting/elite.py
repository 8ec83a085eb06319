"""`elite` ensemble forecaster: per-entity model selection + blending.

Mirrors functime forecasting/elite.py:25-389 — cross-validate a bank
of preset pipelines, rank them per entity, and blend the top-k per
entity (mean stacking); entities the bank cannot score fall back to
naive (ref elite.py:376-387).

Spark shape: every candidate's backtest and final forecast is a
DataFrame tagged with a `__model` column; scoring, per-entity ranking
(window top-k) and the final blend (semi-join on the selection table +
groupBy mean) are all native — the only driver-side loop is over the
handful of candidate models.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from functime_spark.forecasting.base import Forecaster
from functime_spark.forecasting.linear import linear_model, ridge
from functime_spark.forecasting.naive import naive, snaive
from functime_spark.operators.metrics import smape
from functime_spark.panel import panel_cols
from functime_spark.materialize import pinned


def _default_bank(freq: str, sp: int, lags: int) -> dict:
    return {
        "naive": lambda: naive(freq=freq),
        "snaive": lambda: snaive(freq=freq, sp=sp),
        "linear": lambda: linear_model(freq=freq, lags=lags),
        "ridge": lambda: ridge(freq=freq, lags=lags),
    }


def _lasso_ic(X, y, criterion: str = "aic", n_alphas: int = 50, max_iter: int = 200, tol: float = 1e-9):
    """L1 regularization path + information-criterion model selection
    (the reference's `LassoLarsIC` stacker, ref elite.py:9,306-308,
    rebuilt on numpy: sklearn is absent from this container).

    Coordinate descent on standardized features, warm-started down a
    log-spaced alpha grid from alpha_max (where all coefs are zero);
    the returned model minimizes AIC/BIC = n*log(RSS/n) + factor*df
    with df = active-set size — LassoLarsIC's criterion. The input is
    the (n_entities*n_test_points) x top_k backtest matrix, so this is
    driver-scale work."""
    import numpy as np

    X = np.asarray(X, dtype="float64")
    y = np.asarray(y, dtype="float64")
    n, k = X.shape
    xm, ym = X.mean(axis=0), y.mean()
    Xc, yc = X - xm, y - ym
    xs = Xc.std(axis=0)
    xs[xs == 0] = 1.0
    Xs = Xc / xs
    alpha_max = float(np.abs(Xs.T @ yc).max()) / n
    if alpha_max <= 0:
        return float(ym), np.zeros(k)
    alphas = np.logspace(np.log10(alpha_max), np.log10(alpha_max) - 4, n_alphas)
    col_sq = (Xs**2).sum(axis=0)
    factor = 2.0 if criterion == "aic" else float(np.log(n))
    w = np.zeros(k)
    best_ic, best_w = np.inf, w.copy()
    for a in alphas:
        for _ in range(max_iter):
            w_prev = w.copy()
            for j in range(k):
                if col_sq[j] == 0:
                    continue
                r_j = yc - Xs @ w + Xs[:, j] * w[j]
                rho = float(Xs[:, j] @ r_j)
                w[j] = np.sign(rho) * max(abs(rho) - a * n, 0.0) / col_sq[j]
            if np.abs(w - w_prev).max() < tol:
                break
        resid = yc - Xs @ w
        rss = float(resid @ resid)
        sigma2 = max(rss / n, 1e-300)
        ic = n * np.log(sigma2) + factor * int((w != 0).sum())
        if ic < best_ic:
            best_ic, best_w = ic, w.copy()
    coefs = best_w / xs
    b0 = float(ym - xm @ coefs)
    return b0, coefs


class elite(Forecaster):
    """Documented divergence: the reference's elite joins exogenous X
    into its STACKED meta-regression features (ref elite.py:204-213);
    this implementation's bank and stacker are lag-only — pass X-aware
    models (linear/knn/gbt with X) directly when exogenous signals
    matter. The bank backtests themselves are lag-only in BOTH
    implementations."""

    def __init__(
        self,
        freq: str,
        lags: int = 12,
        sp: int = 7,
        top_k: int = 2,
        test_size: int = 4,
        n_splits: int = 2,
        bank: dict | None = None,
        target_transform=None,
        ensemble_strategy: str = "mean",
    ):
        super().__init__(freq=freq, lags=lags, target_transform=target_transform)
        self.sp = sp
        self.top_k = top_k
        self.test_size = test_size
        self.n_splits = n_splits
        self.bank = bank
        if ensemble_strategy not in ("mean", "lasso"):
            raise ValueError(f"ensemble_strategy must be mean|lasso, got {ensemble_strategy}")
        self.ensemble_strategy = ensemble_strategy

    def _fit(self, y: DataFrame, X: DataFrame | None = None):
        p = self.state["panel"]
        # every bank member backtests and fits on y
        with pinned(y) as y:
            bank = self.bank or _default_bank(self.freq, self.sp, self.lags)

            scores = None  # (entity, __model, smape)
            all_preds = None  # lasso only: stacked backtest preds per model
            for name, maker in bank.items():
                try:
                    preds = maker().backtest(
                        y, test_size=self.test_size, n_splits=self.n_splits
                    )
                except Exception:
                    continue
                s = smape(y, preds.drop("split")).withColumn("__model", F.lit(name))
                scores = s if scores is None else scores.unionByName(s)
                if self.ensemble_strategy == "lasso":
                    tagged = preds.drop("split").withColumn("__model", F.lit(name))
                    all_preds = (
                        tagged if all_preds is None else all_preds.unionByName(tagged)
                    )

            # per-entity top-k by smape; entities with no finite score get
            # the naive fallback (ref elite.py:376-387)
            # model name as secondary sort: equal-smape ties must resolve
            # the same way on every run (and in the correctness oracle)
            rank_w = Window.partitionBy(p.entity).orderBy("smape", "__model")
            ranked = (
                scores.filter(F.col("smape").isNotNull() & ~F.isnan("smape"))
                .withColumn("__rank", F.row_number().over(rank_w))
                .filter(F.col("__rank") <= self.top_k)
                .select(p.entity, "__model", "__rank")
            )
            selection = ranked.select(p.entity, "__model")
            all_entities = y.select(p.entity).distinct()
            covered = selection.select(p.entity).distinct()
            fallback = all_entities.join(covered, on=p.entity, how="left_anti").select(
                p.entity, F.lit("naive").alias("__model")
            )
            self.state["selection"] = selection.unionByName(fallback)
            if self.ensemble_strategy == "lasso" and all_preds is not None:
                self._fit_stacker(y, all_preds, ranked, p)
            self.state["fitted_bank"] = {
                name: maker().fit(y) for name, maker in bank.items()
            }
            # materialize each member's n_entities-scale state while y is
            # still pinned: predict then unions k tiny checkpointed frames
            # instead of re-scanning the panel once per bank member
            for fc in self.state["fitted_bank"].values():
                fc._materialize_state()
            self._materialize_state()  # own selection frames

    def _fit_stacker(self, y: DataFrame, all_preds: DataFrame, ranked: DataFrame, p):
        """Global L1 stacker over the top-k backtest matrix (ref
        elite.py:175-186,295-308): one row per (entity, backtest ts),
        one feature per per-entity rank (rank i holds each entity's
        i-th best model's prediction — the reference's `model_i`
        columns), target = the actual. The matrix is
        (n_entities x test_size x n_splits) x top_k — driver-scale —
        so the path fit is a bounded collect. Documented divergences:
        no trend feature, and fallback entities mean-blend instead of
        pure-naive routing."""
        ranks = list(range(1, self.top_k + 1))
        stack = (
            # plain join, no forced broadcast: `ranked` is one row per
            # (entity, model) — AQE still broadcasts when small, but past
            # the 100k-entity claim a forced broadcast would OOM the driver
            all_preds.join(ranked, on=[p.entity, "__model"], how="inner")
            .groupBy(p.entity, p.time)
            .pivot("__rank", ranks)
            .agg(F.first(p.target))
        )
        actual = y.select(p.entity, p.time, F.col(p.target).alias("__actual"))
        rows = (
            stack.join(actual, on=[p.entity, p.time], how="inner")
            .dropna()
            .select(*[F.col(str(r)) for r in ranks], "__actual")
            .collect()
        )
        if len(rows) < self.top_k + 2:
            self.state["stacker"] = None
            return
        import numpy as np

        M = np.asarray([[row[i] for i in range(self.top_k + 1)] for row in rows])
        b0, coefs = _lasso_ic(M[:, : self.top_k], M[:, self.top_k])
        self.state["stacker"] = (b0, [float(c) for c in coefs])
        self.state["selection_rank"] = ranked  # materialized by _fit

    def _predict_values(self, fh: int, X: DataFrame | None = None) -> DataFrame:
        p = self.state["panel"]
        preds = None
        for name, fc in self.state["fitted_bank"].items():
            d = fc._predict_values(fh).withColumn("__model", F.lit(name))
            preds = d if preds is None else preds.unionByName(d)
        mean_blend = (
            preds.join(
                self.state["selection"],
                on=[p.entity, "__model"],
                how="inner",
            )
            .groupBy(p.entity, "low", "step")
            .agg(F.avg("__yhat").alias("__yhat"))
        )
        stacker = self.state.get("stacker")
        if self.ensemble_strategy != "lasso" or stacker is None:
            return mean_blend
        # stacked path: per (entity, step), rank-i feature = that
        # entity's i-th best model's forecast; yhat = b0 + coefs . x.
        # Entities with an incomplete rank row (a bank member failed to
        # forecast them) keep the mean blend.
        b0, coefs = stacker
        ranks = list(range(1, self.top_k + 1))
        feats = (
            preds.join(
                self.state["selection_rank"],
                on=[p.entity, "__model"],
                how="inner",
            )
            .groupBy(p.entity, "low", "step")
            .pivot("__rank", ranks)
            .agg(F.first("__yhat"))
        )
        yhat = F.lit(float(b0))
        for i, r in enumerate(ranks):
            yhat = yhat + F.lit(float(coefs[i])) * F.col(str(r))
        stacked = feats.dropna().select(p.entity, "low", "step", yhat.alias("__yhat"))
        rest = mean_blend.join(
            stacked.select(p.entity).distinct(), on=p.entity, how="left_anti"
        )
        return stacked.unionByName(rest)
