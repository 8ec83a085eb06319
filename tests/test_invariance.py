"""Result invariance: an operator's output does not depend on how its
input is partitioned or on `spark.sql.shuffle.partitions`.

Each case runs one call over the same input repartitioned to 1,
defaultParallelism and 7 partitions, under shuffle.partitions 4 and
32 (set at runtime), and compares the sorted collected rows bit for
bit: rows are compared through `repr`, which round-trips every
double exactly, so no tolerance is applied anywhere."""

from __future__ import annotations

import pytest

N_PARTS = (1, None, 7)  # None: the session's defaultParallelism
SHUFFLE_PARTS = (4, 32)


def _panel(spark, n_entities=12, n_times=48):
    # values with long binary fractions, so every weighted sum rounds
    # in its last bits and the order the terms are added in shows
    rows = [
        (f"e{e:02d}", t, 10.0 + e + ((t * 7919 + e * 104729) % 1000) / 997.0)
        for e in range(n_entities)
        for t in range(n_times)
    ]
    return spark.createDataFrame(rows, "entity string, t long, y double")


def _intermittent(spark):
    # the panel with none, a third or two thirds of each entity's
    # values zeroed, so croston's demand/interval split has gaps
    zero = "(t * t + CAST(substring(entity, 2) AS INT)) % 3 = 0"
    return _panel(spark).selectExpr("entity", "t", f"IF({zero}, 0.0, y) AS y")


def _docs(spark):
    words = [f"w{i}" for i in range(40)]
    rows = []
    for i in range(24):
        base = [words[(i * 3 + j) % 40] for j in range(12)]
        rows.append((i, " ".join(base)))
        # a near copy (one word changed) and an exact copy of some docs
        rows.append((100 + i, " ".join(base[:-1] + ["tail"])))
        if i % 4 == 0:
            rows.append((200 + i, " ".join(base)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _rows(out) -> list[list[str]]:
    """Sorted row reprs of each frame a case returns."""
    frames = out if isinstance(out, tuple) else (out,)
    return [sorted(repr(tuple(r)) for r in df.collect()) for df in frames]


def _assert_invariant(spark, df, call):
    key = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(key)
    dp = spark.sparkContext.defaultParallelism
    results = {}
    try:
        for shuffle in SHUFFLE_PARTS:
            spark.conf.set(key, str(shuffle))
            for n in N_PARTS:
                results[(n or dp, shuffle)] = _rows(call(df.repartition(n or dp)))
    finally:
        spark.conf.set(key, prior)
    (first, want), *rest = results.items()
    assert all(want), "the case produced no rows"
    moved = [layout for layout, got in rest if got != want]
    assert not moved, f"(input partitions, shuffle.partitions) {moved} differ from {first}"


def _extract_features(df):
    from functime_spark.functions.features import extract_features

    return extract_features(df)


def _extract_features_udf(df):
    from functime_spark.functions.features_udf import extract_features_udf

    return extract_features_udf(df, ["lempel_ziv_complexity", "fourier_entropy"])


def _normality_test(df):
    from functime_spark.operators.evaluation import normality_test

    return normality_test(df)


def _minhash_dedup(df):
    from functime_spark.pipeline.dedup import minhash_dedup

    return minhash_dedup(df, n_hashes=16, bands=8, threshold=0.5)


def _forecast(make):
    def call(df):
        fc = make().fit(df)
        return fc.predict(3), fc.backtest(df, test_size=3, n_splits=1)

    return call


def _ses():
    from functime_spark.forecasting.ses import ses

    return ses(freq="1i", alpha=0.3)


def _holt():
    from functime_spark.forecasting.holt import holt

    return holt(freq="1i", alpha=0.4, beta=0.2, phi=0.9)


def _theta():
    from functime_spark.forecasting.theta import theta

    return theta(freq="1i", alpha=0.3)


def _croston():
    from functime_spark.forecasting.croston import croston

    return croston(freq="1i", alpha=0.2, variant="sba")


def _snaive():
    from functime_spark.forecasting.naive import snaive

    return snaive(freq="1i", sp=5)


CASES = {
    "extract_features": (_panel, _extract_features),
    "extract_features_udf": (_panel, _extract_features_udf),
    "normality_test": (_panel, _normality_test),
    "minhash_dedup": (_docs, _minhash_dedup),
    "ses_predict_backtest": (_panel, _forecast(_ses)),
    "holt_predict_backtest": (_panel, _forecast(_holt)),
    "theta_predict_backtest": (_panel, _forecast(_theta)),
    "croston_predict_backtest": (_intermittent, _forecast(_croston)),
    "snaive_predict_backtest": (_panel, _forecast(_snaive)),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_result_invariant_to_partitioning(spark, case):
    make_input, call = CASES[case]
    _assert_invariant(spark, make_input(spark), call)
