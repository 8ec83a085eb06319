"""Forecasters, all on one `Forecaster` lifecycle (fit / predict /
backtest / conformalize, `base.py`):

- classical per-entity families (naive, snaive, ses, holt, theta,
  croston, holt_winters): one per-entity state frame each, forecasts
  as closed-form horizon expressions (`EntityForecaster`); the
  smoothing families (ses, holt, theta, croston) fold their literal
  recursion natively over each entity's time-sorted targets;
- global autoregressive models on the lag design (linear, censored,
  knn/ann, trees), sharing one fh-step recursion kernel (`_ar.py`);
- ensembles over both: elite (per-entity selection and blending) and
  the automl searches.
"""

from functime_spark.forecasting.base import Forecaster  # noqa: F401
from functime_spark.forecasting.linear import (  # noqa: F401
    elastic_net,
    lasso,
    linear_model,
    ridge,
)
from functime_spark.forecasting.naive import naive, snaive  # noqa: F401
from functime_spark.forecasting.croston import croston  # noqa: F401
from functime_spark.forecasting.holt import holt  # noqa: F401
from functime_spark.forecasting.hw import holt_winters  # noqa: F401
from functime_spark.forecasting.ses import ses  # noqa: F401
from functime_spark.forecasting.theta import theta  # noqa: F401
from functime_spark.forecasting.ranges import make_future_ranges  # noqa: F401
from functime_spark.forecasting.censored import (  # noqa: F401
    censored_model,
    zero_inflated_model,
)
from functime_spark.forecasting.knn import ann, knn  # noqa: F401
from functime_spark.forecasting.tree import (  # noqa: F401
    boosted_stumps,
    catboost,
    gradient_boosted_model,
    lightgbm,
    random_forest_model,
    xgboost,
)
from functime_spark.forecasting.automl import (  # noqa: F401
    auto_croston,
    auto_elastic_net,
    auto_holt,
    auto_hw,
    auto_knn,
    auto_lasso,
    auto_lightgbm,
    auto_linear_model,
    auto_ridge,
    auto_ses,
    elastic_net_cv,
    flaml_lightgbm,
    lasso_cv,
    ridge_cv,
)
from functime_spark.forecasting.elite import elite  # noqa: F401
