"""Native feature extractors vs numpy ground truth (reference
semantics pinned in tests mirroring tests/test_tsfresh.py's
golden-value strategy, SURVEY §5)."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from functime_spark.functions.features import FEATURES, extract_features


@pytest.fixture(scope="module")
def feats(events):
    return {
        r["user_id"]: r.asDict()
        for r in extract_features(events).collect()
    }


@pytest.fixture(scope="module")
def series(events_pdf):
    return {
        uid: g["value"].to_numpy()
        for uid, g in events_pdf.groupby("user_id")
    }


def _num(feats, series, name, fn, tol=1e-8):
    for uid, x in series.items():
        got = feats[uid][name]
        want = fn(x)
        assert got == pytest.approx(want, abs=tol, rel=1e-9), (
            f"{name} mismatch for entity {uid}: got {got}, want {want}"
        )


def test_registry_complete(feats):
    row = next(iter(feats.values()))
    for name in FEATURES:
        assert name in row


def test_absolute_energy(feats, series):
    _num(feats, series, "absolute_energy", lambda x: float(np.sum(x * x)), tol=1e-6)


def test_absolute_maximum(feats, series):
    _num(feats, series, "absolute_maximum", lambda x: float(np.abs(x).max()))


def test_absolute_sum_of_changes(feats, series):
    _num(feats, series, "absolute_sum_of_changes", lambda x: float(np.abs(np.diff(x)).sum()))


def test_autocorrelation(feats, series):
    def ac(x, l=1):
        mu, v = x.mean(), x.var()
        return float(np.sum((x[:-l] - mu) * (x[l:] - mu)) / (v * (len(x) - l)))

    _num(feats, series, "autocorrelation", ac)


def test_binned_entropy(feats, series):
    def be(x, bins=10):
        b = np.floor((x - x.min()) / (1e-12 + (x.max() - x.min()) / bins))
        _, counts = np.unique(b, return_counts=True)
        p = counts / len(x)
        return float(-(p * np.log(p)).sum())

    _num(feats, series, "binned_entropy", be)


def test_c3(feats, series):
    def c3(x, l=1):
        return float(np.sum(x[: len(x) - 2 * l] * x[l : len(x) - l] * x[2 * l :]) / (len(x) - 2 * l))

    _num(feats, series, "c3", c3, tol=1e-5)


def test_cid_ce(feats, series):
    _num(feats, series, "cid_ce", lambda x: float(np.sqrt(np.sum(np.diff(x) ** 2))), tol=1e-6)


def test_count_above_below_mean(feats, series):
    _num(feats, series, "count_above_mean", lambda x: int((x > x.mean()).sum()))
    _num(feats, series, "count_below_mean", lambda x: int((x < x.mean()).sum()))


def test_energy_ratios(feats, series):
    for uid, x in series.items():
        n, k = len(x), 10
        L = math.ceil(n / k)
        x2 = x * x
        chunks = np.array([x2[i * L : (i + 1) * L].sum() for i in range(k)])
        want = chunks / x2.sum()
        got = np.array(feats[uid]["energy_ratios"])
        np.testing.assert_allclose(got, want, atol=1e-9)


def test_locations(feats, series):
    _num(feats, series, "first_location_of_maximum", lambda x: float(np.argmax(x) / len(x)))
    _num(feats, series, "first_location_of_minimum", lambda x: float(np.argmin(x) / len(x)))
    _num(
        feats, series, "last_location_of_maximum",
        lambda x: float((len(x) - np.argmax(x[::-1])) / len(x)),
    )
    _num(
        feats, series, "last_location_of_minimum",
        lambda x: float((len(x) - np.argmin(x[::-1])) / len(x)),
    )


def test_index_mass_quantile(feats, series):
    def imq(x, q=0.5):
        cum = np.cumsum(np.abs(x))
        idx = int(np.searchsorted(cum, q * cum[-1], side="left"))
        return float((idx + 1) / len(x))

    _num(feats, series, "index_mass_quantile", imq)


def test_linear_trend(feats, series):
    for uid, x in series.items():
        n = len(x)
        i = np.arange(n)
        beta = np.polyfit(i, x, 1)[0]
        alpha = x.mean() - beta * (n - 1) / 2
        resid = x - beta * i - alpha
        lt = feats[uid]["linear_trend"]
        assert lt["slope"] == pytest.approx(beta, rel=1e-6)
        assert lt["intercept"] == pytest.approx(alpha, rel=1e-6)
        assert lt["rss"] == pytest.approx(float(resid @ resid), rel=1e-6)


def test_streaks(feats, series):
    def longest_run(mask):
        best = cur = 0
        for m in mask:
            cur = cur + 1 if m else 0
            best = max(best, cur)
        return best

    _num(feats, series, "longest_streak_above_mean", lambda x: longest_run(x > x.mean()))
    _num(feats, series, "longest_streak_below_mean", lambda x: longest_run(x < x.mean()))
    _num(feats, series, "longest_winning_streak", lambda x: longest_run(np.diff(x) >= 0))
    _num(feats, series, "longest_losing_streak", lambda x: longest_run(np.diff(x) <= 0))


def test_mean_n_absolute_max(feats, series):
    _num(
        feats, series, "mean_n_absolute_max",
        lambda x: float(np.sort(np.abs(x))[-3:].mean()),
    )


def test_number_crossings(feats, series):
    def nc(x, m=0.0):
        y = x > m
        return int((y[1:] != y[:-1]).sum())

    _num(feats, series, "number_crossings", nc)


def test_number_peaks(feats, series):
    def npk(x, support=1):
        c = 0
        for i in range(len(x)):
            ok = True
            for j in range(1, support + 1):
                left = x[i] > x[i - j] if i - j >= 0 else False
                right = x[i] > x[i + j] if i + j < len(x) else False
                if not (left and right):
                    ok = False
                    break
            c += ok
        return c

    _num(feats, series, "number_peaks", npk)


def test_permutation_entropy(feats, series):
    def pe(x, d=3):
        pats = {}
        for t in range(len(x) - d + 1):
            w = x[t : t + d]
            pat = tuple(np.argsort(np.argsort(w, kind="stable"), kind="stable"))
            pats[pat] = pats.get(pat, 0) + 1
        counts = np.array(list(pats.values()), dtype=float)
        p = counts / counts.sum()
        return float(-(p * np.log(p)).sum())

    _num(feats, series, "permutation_entropy", pe, tol=1e-6)


def test_scalar_stats(feats, series):
    _num(feats, series, "root_mean_square", lambda x: float(np.sqrt((x * x).mean())), tol=1e-6)
    _num(feats, series, "variation_coefficient", lambda x: float(x.std() / x.mean()))
    _num(feats, series, "harmonic_mean", lambda x: float(len(x) / (1.0 / x).sum()))
    _num(feats, series, "range_over_mean", lambda x: float((x.max() - x.min()) / x.mean()))
    _num(feats, series, "range_change", lambda x: float(x.max() / x.min() - 1.0))
    _num(feats, series, "mean_change", lambda x: float((x[-1] - x[0]) / (len(x) - 1)))
    _num(
        feats, series, "mean_second_derivative_central",
        lambda x: float((x[-1] - x[-2] - x[1] + x[0]) / (2 * (len(x) - 2))),
    )


def test_ratio_beyond_r_sigma(feats, series):
    def rb(x, r=0.25):
        mu, sd = x.mean(), x.std()
        return float(((x < mu - r * sd) | (x > mu + r * sd)).sum() / len(x))

    _num(feats, series, "ratio_beyond_r_sigma", rb)


def test_time_reversal(feats, series):
    def trs(x, l=1):
        a = x[l:-l] * 0  # placeholder length
        one, two = x[l:], x[2 * l :]
        base = x[: len(two)]
        vals = x[l : l + len(two)] * (two + base) * (two - base)
        return float(vals.mean())

    _num(feats, series, "time_reversal_asymmetry_statistic", trs, tol=1e-5)


def test_skewness_kurtosis(feats, series):
    def g1(x):
        xc = x - x.mean()
        return float((xc**3).mean() / (xc**2).mean() ** 1.5)

    def g2(x):
        xc = x - x.mean()
        return float((xc**4).mean() / (xc**2).mean() ** 2 - 3.0)

    _num(feats, series, "skewness", g1, tol=1e-6)
    _num(feats, series, "kurtosis", g2, tol=1e-6)


def test_feature_count_claim():
    """README/COVERAGE claim '56 native-tier feature extractors' —
    keep the registry and the docs in sync (r7 verdict nit)."""
    assert len(FEATURES) == 56


# ---------------------------------------------------------------------------
# Run-length and keyed-count features on the events panel and on hand series
# (edge lengths, mode ties, runs touching both ends, static key domains)
# ---------------------------------------------------------------------------


def _runs(mask) -> list[int]:
    """Lengths of the true runs of a boolean sequence."""
    lens, cur = [], 0
    for m in mask:
        if m:
            cur += 1
        elif cur:
            lens.append(cur)
            cur = 0
    return lens + [cur] if cur else lens


def _streak_stats(lens) -> dict:
    """streak_length_stats of a list of run lengths: 'nearest' p10/p90
    (sorted value at round-half-up(q*(n-1))), linear median, sample
    std, mode ties to the smallest length; min is 0 without runs."""
    if not lens:
        return {"min": 0, "max": None, "mean": None, "std": None,
                "p10": None, "median": None, "p90": None, "mode": None}
    s = sorted(lens)
    counts = {v: s.count(v) for v in s}
    return {
        "min": s[0],
        "max": s[-1],
        "mean": float(np.mean(s)),
        "std": float(np.std(s, ddof=1)) if len(s) > 1 else None,
        "p10": float(s[math.floor(0.1 * (len(s) - 1) + 0.5)]),
        "median": float(np.median(s)),
        "p90": float(s[math.floor(0.9 * (len(s) - 1) + 0.5)]),
        "mode": min(v for v in counts if counts[v] == max(counts.values())),
    }


def _assert_fields(got, want: dict, what: str):
    got = got.asDict() if hasattr(got, "asDict") else got
    assert set(got) == set(want), what
    for k, w in want.items():
        if w is None:
            assert got[k] is None, f"{what}.{k}: got {got[k]}, want None"
        else:
            assert got[k] == pytest.approx(w, rel=1e-9), f"{what}.{k}: got {got[k]}, want {w}"


def _hand(spark, series: dict, feats) -> dict:
    """extract_features over hand series {entity: values}, by entity."""
    rows = [(e, t, float(v)) for e, xs in series.items() for t, v in enumerate(xs)]
    df = spark.createDataFrame(rows, "entity string, t long, y double")
    return {r["entity"]: r.asDict() for r in extract_features(df, feats).collect()}


def test_streak_length_stats(feats, series):
    for uid, x in series.items():
        want = _streak_stats(_runs(np.diff(x) >= 0))
        _assert_fields(feats[uid]["streak_length_stats"], want, f"entity {uid}")


def test_streak_length_stats_hand_series(spark):
    series = {
        # rising runs 3, 1, 3, 1 (from the first diff to the last row): the
        # mode ties between 1 and 3 and the smaller wins
        "tie": [0, 1, 2, 3, 2, 3, 2, 3, 4, 5, 4, 5],
        # one run over every diff
        "rise": [1, 2, 3, 4, 5],
        # falling runs only: no rising run at all
        "fall": [5, 4, 3, 2],
        # flat diffs count for both directions
        "flat": [2, 2, 2, 1, 1, 3],
    }
    specs = {
        "up": (FEATURES["streak_length_stats"][0], {"above": True, "threshold": 0.0}),
        "down": (FEATURES["streak_length_stats"][0], {"above": False, "threshold": 0.0}),
        "up_1": (FEATURES["streak_length_stats"][0], {"above": True, "threshold": 1.0}),
    }
    got = _hand(spark, series, specs)
    for e, xs in series.items():
        d = np.diff(np.asarray(xs, dtype=float))
        for name, mask in (("up", d >= 0), ("down", d <= 0), ("up_1", d >= 1)):
            _assert_fields(got[e][name], _streak_stats(_runs(mask)), f"{e}.{name}")
    assert got["tie"]["up"]["mode"] == 1


STREAK_FEATURES = {
    "longest_streak_above_mean": lambda x: x > x.mean(),
    "longest_streak_below_mean": lambda x: x < x.mean(),
    "longest_streak_above": lambda x: np.diff(x) >= 0,
    "longest_streak_below": lambda x: np.diff(x) <= 0,
    "longest_winning_streak": lambda x: np.diff(x) >= 0,
    "longest_losing_streak": lambda x: np.diff(x) <= 0,
}


def test_streaks_on_short_series(spark):
    series = {
        "n1": [3.0],
        "n2_up": [1.0, 2.0],
        "n2_flat": [2.0, 2.0],
        "n3_down": [3.0, 2.0, 1.0],
        "n3_peak": [1.0, 3.0, 2.0],
    }
    got = _hand(spark, series, [*STREAK_FEATURES, "streak_length_stats"])
    for e, xs in series.items():
        x = np.asarray(xs)
        for name, mask in STREAK_FEATURES.items():
            assert got[e][name] == max(_runs(mask(x)), default=0), f"{e}.{name}"
        _assert_fields(
            got[e]["streak_length_stats"], _streak_stats(_runs(np.diff(x) >= 0)), e
        )


def _perm_entropy(x, tau=1, d=3):
    """Entropy of the rank patterns of the windows x[t:t+d], t <= n-d,
    t a multiple of tau (stable ties by position)."""
    pats = {}
    for t in range(0, len(x) - d + 1, tau):
        pat = tuple(np.argsort(np.argsort(x[t : t + d], kind="stable"), kind="stable"))
        pats[pat] = pats.get(pat, 0) + 1
    if not pats:
        return None
    p = np.array(list(pats.values()), dtype=float)
    p /= p.sum()
    return float(-(p * np.log(p)).sum())


def test_permutation_entropy_params(spark, events_pdf):
    pe = FEATURES["permutation_entropy"][0]
    specs = {
        "tau2": (pe, {"tau": 2, "n_dims": 3}),
        "d4": (pe, {"tau": 1, "n_dims": 4}),
        "tau3_d4": (pe, {"tau": 3, "n_dims": 4}),
    }
    series = {
        f"u{uid}": g["value"].to_numpy() for uid, g in events_pdf.groupby("user_id")
    }
    # ties, a series too short for one window, and one with exactly one
    series["ties"] = np.array([1.0, 1.0, 2.0, 1.0, 2.0, 2.0, 3.0, 1.0])
    series["short"] = np.array([1.0, 2.0, 3.0])
    series["one"] = np.array([4.0, 1.0, 3.0, 2.0])
    got = _hand(spark, series, specs)
    seen = set()
    for e, x in series.items():
        for name, (_, p) in specs.items():
            want = _perm_entropy(x, p["tau"], p["n_dims"])
            if want is None:
                assert got[e][name] is None, f"{e}.{name}"
            else:
                assert got[e][name] == pytest.approx(want, rel=1e-9, abs=1e-12), f"{e}.{name}"
        if len(x) >= 4:
            seen |= {
                tuple(np.argsort(x[t : t + 4], kind="stable")) for t in range(len(x) - 3)
            }
    # the events series reach many of the 24 four-value patterns
    assert len(seen) > 12


def test_energy_ratios_chunking(spark):
    er = FEATURES["energy_ratios"][0]
    series = {"n13": np.linspace(-2.0, 3.0, 13), "n4": np.array([1.0, -2.0, 0.5, 3.0])}
    got = _hand(spark, series, {"r5": (er, {"n_chunks": 5}), "r10": (er, {"n_chunks": 10})})
    for e, x in series.items():
        for name, k in (("r5", 5), ("r10", 10)):
            L = math.ceil(len(x) / k)
            x2 = x * x
            want = [x2[i * L : (i + 1) * L].sum() / x2.sum() for i in range(k)]
            np.testing.assert_allclose(got[e][name], want, rtol=1e-12, atol=0)


def test_binned_entropy_constant_series(spark):
    got = _hand(spark, {"c": [7.5] * 9, "two": [1.0, 1.0, 5.0]}, ["binned_entropy"])
    assert got["c"]["binned_entropy"] == 0.0
    p = np.array([2 / 3, 1 / 3])
    assert got["two"]["binned_entropy"] == pytest.approx(float(-(p * np.log(p)).sum()), rel=1e-12)


# ---------------------------------------------------------------------------
# Feature expressions are built once per session and spec
# ---------------------------------------------------------------------------


def test_feature_build_is_memoised(spark):
    calls = []

    def counted(name):
        builder = FEATURES[name][0]

        def wrapped(c, **params):
            calls.append(name)
            return builder(c, **params)

        return wrapped

    spec = {
        "streak_length_stats": (counted("streak_length_stats"), {"above": True, "threshold": 0.0}),
        "binned_entropy": (counted("binned_entropy"), {"bin_count": 10}),
        "permutation_entropy": (counted("permutation_entropy"), {"tau": 1, "n_dims": 3}),
    }
    a = {"a": [1.0, 2.0, 2.0, 5.0, 3.0, 4.0, 6.0], "b": [3.0, 1.0, 2.0, 2.0, 8.0]}
    first = _hand(spark, a, spec)
    assert sorted(calls) == sorted(spec)
    del calls[:]
    assert _hand(spark, a, spec) == first
    assert calls == []

    # same column names, other data: its own values, still no build
    b = {"a": [9.0, 7.0, 8.0, 8.0, 1.0, 3.0], "c": [1.0, 4.0, 2.0, 3.0]}
    other = _hand(spark, b, spec)
    assert calls == []
    assert other == _hand(spark, b, {n: (FEATURES[n][0], p) for n, (_, p) in spec.items()})
    assert other["a"] != first["a"]

    # other params build again
    spec["binned_entropy"] = (spec["binned_entropy"][0], {"bin_count": 3})
    _hand(spark, a, spec)
    assert sorted(calls) == sorted(spec)

    # unhashable params: nothing to key on, every call builds
    def q_sum(c, qs):
        calls.append("q_sum")
        return sum(F.percentile(c.x, F.lit(q)) for q in qs)

    for _ in range(2):
        got = _hand(spark, a, {"q_sum": (q_sum, {"qs": [0.0, 1.0]})})
        assert got["a"]["q_sum"] == 7.0
    assert calls.count("q_sum") == 2
