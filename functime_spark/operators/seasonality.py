"""Seasonality features: Fourier terms, calendar attributes, holidays.

Mirrors functime seasonality/fourier.py + seasonality/calendar.py.
All pure Column expressions except the holiday table, which (like the
reference, calendar.py:77-90) is generated driver-side and broadcast
left-joined.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from functime_spark.panel import ordered_window, panel_cols


#: seasonal periods per offset alias (ref offsets.py:44-56, after
#: Hyndman's seasonal-periods table)
_SEASONAL_PERIODS = {
    "1s": [60, 3_600, 86_400, 604_800, 31_557_600],
    "1m": [60, 1_440, 10_080, 525_960],
    "30m": [48, 336, 17_532],
    "1h": [24, 168, 8_766],
    "1d": [7, 365],
    "1w": [52],
    "1mo": [12],
    "1q": [4],
    "3mo": [4],
    "1y": [1],
}


def freq_to_sp(freq: str) -> list[int]:
    """Seasonal periods for an offset alias (ref offsets.py:19-62)."""
    try:
        return _SEASONAL_PERIODS[freq]
    except KeyError as exc:
        raise ValueError(f"Offset {freq!r} not supported") from exc


def add_fourier_terms(df: DataFrame, sp: int, K: int) -> DataFrame:
    """sin/cos of 2*pi*k*((rank mod sp)/sp). Ref fourier.py:10-49."""
    if K > sp:
        raise ValueError("`K` must be less than `sp`")
    p = panel_cols(df)
    rank = F.row_number().over(ordered_window(p.entity, p.time)) - 1
    coef = (rank % sp) / F.lit(float(sp))
    out = df.withColumn("fourier_coef", coef)
    cols = {}
    for k in range(1, K + 1):
        cols[f"cos_{sp}_{k}"] = F.cos(2 * math.pi * k * F.col("fourier_coef"))
        cols[f"sin_{sp}_{k}"] = F.sin(2 * math.pi * k * F.col("fourier_coef"))
    return out.withColumns(cols).drop("fourier_coef")


_CALENDAR_EXPRS = {
    "minute": lambda t: F.minute(t),
    "hour": lambda t: F.hour(t),
    "day": lambda t: F.dayofmonth(t),
    # Polars weekday: Monday=1..Sunday=7 → shift Spark's dayofweek (Sun=1)
    "weekday": lambda t: ((F.dayofweek(t) + 5) % 7) + 1,
    "week": lambda t: F.weekofyear(t),
    "month": lambda t: F.month(t),
    "quarter": lambda t: F.quarter(t),
    "year": lambda t: F.year(t),
}


def add_calendar_effects(df: DataFrame, attrs: list, as_dummies: bool = False) -> DataFrame:
    """Calendar attribute columns (as strings, mirroring the reference's
    categorical cast). Ref calendar.py:13-53.

    Accepts a bare (entity, time) index frame too — the reference's
    future-effects path feeds exactly that (calendar.py:126-133)."""
    t = F.col(df.columns[1])
    bad = set(attrs) - set(_CALENDAR_EXPRS)
    if bad:
        raise ValueError(f"unsupported calendar attrs: {bad}")
    out = df.withColumns(
        {a: _CALENDAR_EXPRS[a](t).cast("string") for a in attrs}
    )
    if as_dummies:
        from functime_spark.operators.preprocessing import one_hot_encode

        # dummy-encode just the new attr columns
        enc = one_hot_encode()
        keep = [c for c in out.columns if c not in attrs]
        enc.categories = {
            a: [r[0] for r in out.select(a).distinct().orderBy(a).collect()]
            for a in attrs
        }
        out = enc._encode(out, strict=False)
    return out


def add_holiday_effects(
    df: DataFrame, country_codes: list, as_dummies: bool = False
) -> DataFrame:
    """Attach holiday-name columns per country via a driver-generated
    broadcast table. Ref calendar.py:56-113.

    The table source is pluggable: the `holidays` package when
    importable (full country coverage), else the vendored US/DE
    calendars (holidays_vendored.py) so the operator is runnable —
    and oracle-gated — in environments without the package."""
    try:  # pragma: no cover - package absent in this container
        import holidays as _holidays
    except ImportError:
        _holidays = None

    from functime_spark.operators.holidays_vendored import vendored_holidays

    # (entity, time) suffices — future frames carry no value column
    entity_col, time_col = df.columns[:2]
    spark = df.sparkSession
    years_row = df.agg(
        F.min(F.year(time_col)).alias("lo"), F.max(F.year(time_col)).alias("hi")
    ).first()
    years = list(range(years_row["lo"], years_row["hi"] + 1))
    out = df
    for code in country_codes:
        if _holidays is not None:  # pragma: no cover
            cal = _holidays.country_holidays(code, years=years)
            rows = [
                (d, name.lower().replace(" ", "_").replace("'", ""))
                for d, name in cal.items()
            ]
        else:
            rows = vendored_holidays(code, years)
        # one row per date: join same-date names (e.g. NL Ascension on
        # Liberation Day) with '; ' like the holidays package does —
        # a raw duplicate would fan out the panel join
        merged: dict = {}
        for hd, name in rows:
            merged.setdefault(hd, []).append(name)
        # sorted, not emission order: deterministic across calendar
        # sources and replayable in SQL (string_agg ... ORDER BY nm)
        rows = [(hd, "; ".join(sorted(names))) for hd, names in merged.items()]
        col = f"holiday__{code.lower()}"
        tbl = spark.createDataFrame(rows, schema=f"__hdate date, {col} string")
        out = out.join(
            F.broadcast(tbl), on=F.to_date(F.col(time_col)) == F.col("__hdate"), how="left"
        ).drop("__hdate")
    if as_dummies:
        from functime_spark.operators.preprocessing import one_hot_encode

        holiday_cols = [f"holiday__{c.lower()}" for c in country_codes]
        enc = one_hot_encode()
        enc.categories = {
            c: [
                r[0]
                for r in out.select(c).distinct().filter(F.col(c).isNotNull()).orderBy(c).collect()
            ]
            for c in holiday_cols
        }
        out = enc._encode(out, strict=False)
    return out


def _future_index(df: DataFrame, fh: int, freq: str) -> DataFrame:
    """(entity, time): each entity's future timestamps after its max
    time, by the same rule as predict (`ranges.make_future_ranges`)."""
    from functime_spark.forecasting.ranges import make_future_ranges

    p = panel_cols(df)
    cutoffs = df.groupBy(p.entity).agg(F.max(p.time).alias("low"))
    return make_future_ranges(cutoffs, fh, freq, p.time).select(
        p.entity, F.explode(p.time).alias(p.time)
    )


def make_future_calendar_effects(
    df: DataFrame, attrs: list, fh: int, freq: str
) -> DataFrame:
    """Calendar attrs over the per-entity future index. Ref
    calendar.py:119-134."""
    return add_calendar_effects(_future_index(df, fh, freq), attrs)


def make_future_holiday_effects(
    df: DataFrame, country_codes: list, fh: int, freq: str
) -> DataFrame:
    """Holiday columns over the per-entity future index. Ref
    calendar.py:137-152. Needs the `holidays` package (see
    add_holiday_effects)."""
    return add_holiday_effects(_future_index(df, fh, freq), country_codes)
