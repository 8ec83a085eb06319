"""Future time-index generation per entity.

Mirrors functime ranges.py:9-46: given an entity's cutoff `low` (its
max time), the timestamp of each forecast step. `future_time` is the
one rule, a Column expression over `low` and the 0-based step: predict
projects it over its values frame (which carries `low`), and
`make_future_ranges` folds it into one array per entity. Calendar
frequencies (mo/q/y) use add_months (calendar-aware, like Polars
dt.offset_by), fixed frequencies use interval arithmetic.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_FIXED_UNITS = {
    "s": "SECOND",
    "m": "MINUTE",
    "h": "HOUR",
    "d": "DAY",
    "w": "WEEK",
}


def strip_freq_alias(freq: str):
    m = re.fullmatch(r"(\d+)(mo|i|[a-z]+)", freq.lower())
    if not m:
        raise ValueError(f"unsupported frequency alias: {freq}")
    return int(m.group(1)), m.group(2)


def future_points(fh: int, freq: str) -> int:
    """Future timestamps per entity: fh, except integer freq 'ki',
    which mirrors the reference's int_ranges(low+1, low+fh+1, step=k)
    — ceil(fh/k) points."""
    n, unit = strip_freq_alias(freq)
    return -(-fh // n) if unit == "i" else fh


def future_time(low: Column, step: Column, freq: str, low_type: str) -> Column:
    """Timestamp of the 0-based forecast `step` after cutoff `low`
    (of Spark type `low_type`): low+1+step*k for 'ki', else the
    (step+1)-th multiple of the period after low — each step counted
    from low, not chained."""
    n, unit = strip_freq_alias(freq)
    if unit == "i":
        return (low + 1).cast("long") + step * n
    if unit in _FIXED_UNITS:
        return low + (step + 1) * F.expr(f"INTERVAL {n} {_FIXED_UNITS[unit]}")
    if unit in ("mo", "q", "y"):
        months = {"mo": n, "q": 3 * n, "y": 12 * n}[unit]
        return F.add_months(low, (step + 1) * months).cast(low_type)
    raise ValueError(f"unsupported frequency alias: {freq}")


def make_future_ranges(cutoffs: DataFrame, fh: int, freq: str, time_col: str = "time") -> DataFrame:
    """cutoffs: (entity, low). Returns (entity, array<time>) holding
    `future_points(fh, freq)` timestamps."""
    entity, low = cutoffs.columns[:2]
    low_type = dict(cutoffs.dtypes)[low]
    steps = F.sequence(F.lit(0), F.lit(future_points(fh, freq) - 1))
    arr = F.transform(steps, lambda s: future_time(F.col(low), s, freq, low_type))
    return cutoffs.select(F.col(entity), arr.alias(time_col))
