"""Global linear AR forecasters: linear_model / lasso / ridge / elastic_net.

Mirrors functime forecasting/linear.py:10-203 via one MLlib
LinearRegression parameterization (sklearn alpha → MLlib regParam;
l1_ratio → elasticNetParam). Strategies: recursive (default), direct,
ensemble (mean of both — ref _ar.py:337-374).
"""

from __future__ import annotations

from functime_spark.forecasting._ar import ARForecaster, LinearBackend


class linear_model(ARForecaster):
    _reg_param = 0.0
    _elastic_net_param = 0.0

    def __init__(
        self,
        freq: str,
        lags: int = 12,
        strategy: str = "recursive",
        max_horizons: int | None = None,
        fit_intercept: bool = True,
        alpha: float | None = None,
        l1_ratio: float | None = None,
        cd_iters: int | None = None,
        target_transform=None,
    ):
        super().__init__(
            freq=freq,
            lags=lags,
            strategy=strategy,
            max_horizons=max_horizons,
            target_transform=target_transform,
        )
        self.fit_intercept = fit_intercept
        self.alpha = alpha
        self.l1_ratio = l1_ratio
        self.cd_iters = cd_iters

    def _backend(self) -> LinearBackend:
        reg = self.alpha if self.alpha is not None else self._reg_param
        l1 = self.l1_ratio if self.l1_ratio is not None else self._elastic_net_param
        return LinearBackend(
            reg_param=reg,
            elastic_net_param=l1,
            fit_intercept=self.fit_intercept,
            cd_iters=self.cd_iters,
        )

    @property
    def _reads_design_once(self) -> bool:
        return self._backend().single_pass

    def _fit_design(self, design, cols: list, target: str):
        return self._backend().fit(design, cols, target)

    @staticmethod
    def _make_step(model):
        """coef[:lags][j] multiplies lag_{j+1} (lag_1 = most recent);
        coef[lags:] multiplies the exogenous features at the step."""
        w, b = model

        def step(h, lag, x):
            yhat = lag @ w[: lag.shape[1]] + b
            if x is not None:
                yhat = yhat + x @ w[lag.shape[1] :]
            return yhat

        return step


class lasso(linear_model):
    """L1; sklearn Lasso default alpha=1.0 (ref linear.py:62-96)."""

    _reg_param = 1.0
    _elastic_net_param = 1.0


class ridge(linear_model):
    """L2; sklearn Ridge default alpha=1.0 (ref linear.py:99-133)."""

    _reg_param = 1.0
    _elastic_net_param = 0.0


class elastic_net(linear_model):
    """Mixed L1/L2 (ref linear.py:136-170)."""

    _reg_param = 1.0
    _elastic_net_param = 0.5
