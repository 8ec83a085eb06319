"""Time-series cross-validation splitters.

Mirrors functime cross_validation.py. Each split is a lazily-filtered
DataFrame: one window pass attaches per-entity row index + length,
then every train/test split is a cheap row-range predicate on the SAME
annotated frame — so pinning the annotated frame for the call
(``materialize.pinned``, as ``Forecaster.backtest`` does) makes
n_splits scans share one shuffle (the reference's dict-of-LazyFrames maps to
exactly this).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _annotate(df: DataFrame):
    """Attach per-entity 0-based row index and series length."""
    e, t = df.columns[:2]
    ow = Window.partitionBy(e).orderBy(t)
    ew = Window.partitionBy(e)
    out = df.withColumn("__i", F.row_number().over(ow) - 1).withColumn(
        "__len", F.count(F.lit(1)).over(ew)
    )
    return out, e


def _strip(df: DataFrame) -> DataFrame:
    return df.drop("__i", "__len")


def train_test_split(df: DataFrame, test_size=0.25):
    """Per-entity time-ordered split. Ref cross_validation.py:48-157.

    int test_size → last `test_size` rows per entity are test;
    float → train_length = floor(len * (1 - test_size)).
    """
    ann, e = _annotate(df)
    if isinstance(test_size, float):
        if not 0 <= test_size <= 1:
            raise ValueError("float test_size must be in [0, 1]")
        train_len = (F.col("__len") * (1 - test_size)).cast("long")
    else:
        if test_size < 0:
            raise ValueError("test_size must be >= 0")
        train_len = F.col("__len") - test_size
    train = _strip(ann.filter(F.col("__i") < train_len))
    test = _strip(ann.filter(F.col("__i") >= train_len))
    return train, test


def _window_split(df: DataFrame, test_size: int, n_splits: int, step_size: int, window_size=None, annotated=None):
    """Shared slicing engine. Ref cross_validation.py:253-289.

    cutoffs (rows back from the end where each test block starts) =
    reversed [test_size, test_size + step, ..., test_size + (n_splits-1)*step].

    Pass `annotated` (the `_annotate(df)` result) to share ONE
    row-index window pass across every split — callers that pin it
    (backtest) turn 2*n_splits window+shuffle passes into one."""
    if annotated is not None:
        ann, e = annotated
    else:
        ann, e = _annotate(df)
    cutoffs = [test_size + i * step_size for i in range(n_splits)][::-1]
    splits = {}
    for i, cutoff in enumerate(cutoffs):
        train_end = F.col("__len") - cutoff  # exclusive
        if window_size:
            train_cond = (F.col("__i") >= train_end - window_size) & (
                F.col("__i") < train_end
            )
        else:
            train_cond = F.col("__i") < train_end
        test_cond = (F.col("__i") >= train_end) & (
            F.col("__i") < train_end + test_size
        )
        splits[i] = (_strip(ann.filter(train_cond)), _strip(ann.filter(test_cond)))
    return splits


def expanding_window_split(df: DataFrame, test_size: int = 1, n_splits: int = 5, step_size: int = 1):
    """Ref cross_validation.py:160-201."""
    return _window_split(df, test_size, n_splits, step_size)


def sliding_window_split(
    df: DataFrame, test_size: int = 1, n_splits: int = 5, step_size: int = 1, window_size: int = 10
):
    """Ref cross_validation.py:204-250."""
    return _window_split(df, test_size, n_splits, step_size, window_size)
