"""Pickle support for fitted forecasters/transformers.

The reference contract (tests/test_forecasting.py:71-86) is that a
FITTED forecaster cloudpickles and predicts identically after a
round-trip. Our fitted state holds small per-entity Spark DataFrames
(per-entity states with their cutoff `low`, lag buffers, scale
params — n_entities rows each); pickling
materializes them to (schema-json, row-tuples) and unpickling rebuilds
them on the active SparkSession (or a fresh one in a new process).

Materialization is a Spark action at pickle time — bounded by entity
count, same driver-side footprint the reference pays (its artifacts
are eager Polars frames). JVM-backed MLlib models (tree forecasters)
are not picklable; those raise with a clear message.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_TAG = "__frozen_spark_df__"


def freeze_state(state: dict) -> dict:
    out = {}
    for k, v in state.items():
        if isinstance(v, DataFrame):
            out[k] = (_TAG, v.schema.json(), [tuple(r) for r in v.collect()])
        else:
            out[k] = v
    return out


def thaw_state(state: dict) -> dict:
    out = {}
    for k, v in state.items():
        if isinstance(v, tuple) and len(v) == 3 and v[0] == _TAG:
            spark = SparkSession.getActiveSession()
            if spark is None:  # fresh process
                from functime_spark.session import get_session

                spark = get_session()
            schema = StructType.fromJson(json.loads(v[1]))
            out[k] = spark.createDataFrame(v[2], schema=schema)
        else:
            out[k] = v
    return out


class SparkStatePickleMixin:
    """Adds DataFrame-aware __getstate__/__setstate__ keyed on the
    conventional ``state``/``params`` attributes."""

    def __getstate__(self):
        d = dict(self.__dict__)
        if isinstance(d.get("state"), dict):
            d["state"] = freeze_state(d["state"])
        for attr in ("params", "lmbds", "betas"):
            if isinstance(d.get(attr), DataFrame):
                d[attr] = freeze_state({attr: d[attr]})[attr]
        return d

    def __setstate__(self, d):
        if isinstance(d.get("state"), dict):
            d["state"] = thaw_state(d["state"])
        for attr in ("params", "lmbds", "betas"):
            v = d.get(attr)
            if isinstance(v, tuple) and len(v) == 3 and v[0] == _TAG:
                d[attr] = thaw_state({attr: v})[attr]
        self.__dict__.update(d)
