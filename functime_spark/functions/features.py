"""Native-tier time-series feature extractors (tsfresh/Catch22 family).

Each feature re-expresses the semantics of the same-named function in
the reference (functime feature_extractors.py — cited per feature) as a
Spark aggregate expression over per-entity groups, with any required
per-row context (lags, leads, positions, per-entity moments, value
counts, run starts) registered as *staged helper columns*.

Design — one shuffle, two sorts for N features
----------------------------------------------
``extract_features(df, feats)`` builds every requested feature in a
single plan:

  repartition  hashpartitioning(entity): the one exchange. It
               satisfies every window below and the final groupBy
               (subset rule), so no window ordering can add a second.
  stage 0      ONE value-keyed window, (entity, value) in time order:
               per-value counts and first occurrences, for the
               duplicate and distinct-value features (expand-free,
               where countDistinct would plan two more shuffles).
  stage 1..2   ONE ordered (entity, time) chain: lags, leads, row
               positions, cumulative sums and whole-series moments
               (the full frame of the same spec) in stage 1; run
               starts, the cumulative max of the positions where a
               row flag changes, in stage 2. Flags and the previous
               and next row's flags are row expressions over stage-1
               lags/leads, so a run length is ``idx - start + 1`` and
               no window is keyed by a run id.
  final        groupBy(entity).agg(f1, ..., fN), fed in time order.
               Keyed counts live here as conditional aggregates over
               a static key domain: histogram bins, energy chunks and
               the d! ordinal patterns — no key-partitioned window.

The full registry plans 1 exchange, 2 sorts (the narrow input rows by
(entity, value, time), then by (entity, time)) and 3 Window operators
(pinned by tests/test_plans.py); it was 14 sorts and 16 Windows while
run lengths and key counts had windows of their own. The helper and
aggregate Columns of one (application, columns, feature spec) are
built once and memoised: Columns name their inputs and hold no data,
so a repeat call skips the py4j build and plans byte-identical
expressions. With a handful of operators the generated classes fit
Spark's default codegen cache, so a repeat call compiles nothing and
needs no cache-size setting. Entities are the embarrassingly-parallel
axis; no Python runs at execution time — everything compiles to
Catalyst expressions inside whole-stage codegen.

Null convention: series are assumed dense (no null target values),
matching the reference's test fixtures; aggregates use F.count(x) = n.
"""

from __future__ import annotations

import functools
import itertools
import math
import threading
from concurrent.futures import ThreadPoolExecutor
from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from functime_spark.panel import panel_cols

__all__ = ["PanelCtx", "extract_features", "FEATURES", "feature_frame"]


class PanelCtx:
    """Helper-column registry for fused feature extraction.

    Helpers are named deterministically (same helper requested by two
    features is computed once) and assigned to *stages*: a helper may
    only reference columns from strictly earlier stages, because Spark
    does not allow nested window expressions in one projection.

    Stage 0 holds only the value-keyed window (``vw``), stage 1 the
    ordered windows (``ow``/``cw``/``ew``), stage 2 what derives from
    them. The value-keyed window sorts the narrow input rows once by
    (entity, value, time); the ordered chain then sorts once by
    (entity, time) and hands the final aggregate its rows in time
    order.
    """

    def __init__(self, entity: str, time: str, value: str):
        self.entity = entity
        self.time = time
        self.value = value
        self.stages: list[dict] = []
        self._registered: dict[str, int] = {}
        # extract_features builds feature expressions from a thread
        # pool (overlapping py4j round-trips); registration is the
        # only shared mutation
        self._lock = threading.RLock()  # helpers build nested helpers

    # -- windows -----------------------------------------------------
    @property
    def ow(self):  # ordered per-entity window
        return Window.partitionBy(self.entity).orderBy(self.time)

    @property
    def ew(self):  # whole-entity frame, on the ordered spec so it shares its sort
        return self.ow.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)

    @property
    def cw(self):  # cumulative frame
        return self.ow.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    @property
    def vw(self):  # value-keyed window: each distinct value's rows in time order
        return Window.partitionBy(self.entity, self.value).orderBy(self.time)

    # -- registry ----------------------------------------------------
    def helper(self, name: str, builder: Callable[[], Column], stage: int) -> Column:
        # dots/dashes in a column name would parse as struct paths
        name = name.replace(".", "_").replace("-", "m")
        with self._lock:
            if name not in self._registered:
                while len(self.stages) <= stage:
                    self.stages.append({})
                self.stages[stage][name] = builder()
                self._registered[name] = stage
        return F.col(name)

    # -- base columns ------------------------------------------------
    @property
    def x(self) -> Column:
        return F.col(self.value)

    # -- stage-1 helpers: the ordered windows ------------------------
    def lag(self, k: int) -> Column:
        return self.helper(f"__lag_{k}", lambda: F.lag(self.x, k).over(self.ow), 1)

    def lead(self, k: int) -> Column:
        return self.helper(f"__lead_{k}", lambda: F.lead(self.x, k).over(self.ow), 1)

    def idx(self) -> Column:
        """Per-entity 0..n-1 position (time order)."""
        return self.helper(
            "__idx", lambda: (F.row_number().over(self.ow) - F.lit(1)).cast("long"), 1
        )

    def n(self) -> Column:
        return self.helper("__n", lambda: F.count(self.x).over(self.ew), 1)

    def mean(self) -> Column:
        return self.helper("__mean", lambda: F.avg(self.x).over(self.ew), 1)

    def std_pop(self) -> Column:
        return self.helper("__std_pop", lambda: F.stddev_pop(self.x).over(self.ew), 1)

    def vmin(self) -> Column:
        return self.helper("__min", lambda: F.min(self.x).over(self.ew), 1)

    def vmax(self) -> Column:
        return self.helper("__max", lambda: F.max(self.x).over(self.ew), 1)

    def quantile(self, q: float) -> Column:
        key = f"__q_{str(q).replace('.', '_')}"
        return self.helper(key, lambda: F.percentile(self.x, F.lit(q)).over(self.ew), 1)

    def cum_abs(self) -> Column:
        return self.helper("__cum_abs", lambda: F.sum(F.abs(self.x)).over(self.cw), 1)

    def tot_abs(self) -> Column:
        return self.helper("__tot_abs", lambda: F.sum(F.abs(self.x)).over(self.ew), 1)

    def diff(self) -> Column:
        """x_t - x_{t-1} (null on first row, like Polars .diff())."""
        lag1 = self.lag(1)
        return self.x - lag1

    # -- stage-0 helpers: the value-keyed window ---------------------
    def val_cnt(self) -> Column:
        """Occurrences of this row's value within its series."""
        return self.helper(
            "__val_cnt",
            lambda: F.count(self.x).over(
                self.vw.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
            ),
            0,
        )

    def first_occ(self) -> Column:
        """True on the first row (time order) of each distinct value.

        Lets distinct-counting features stay in the fused single-pass
        plan: Spark's countDistinct/sum_distinct trigger the
        expand+gid two-phase aggregate (two extra shuffles); counting
        first occurrences is an exact, expand-free equivalent. It
        shares ``vw`` with ``val_cnt``: one Window operator, one
        in-partition sort, no exchange.
        """
        return self.helper("__first_occ", lambda: F.row_number().over(self.vw) == 1, 0)

    # -- run lengths -------------------------------------------------
    def streak(self, key: str, flag: Column, prev: Column, nxt: Column):
        """Run lengths of a boolean row flag, on the ordered chain.

        ``flag``, ``prev`` and ``nxt`` are the flag of this, the
        previous and the next row, written as row expressions over
        stage-1 lags/leads (null where that row does not exist). A run
        starts where the flag differs from the previous one; its start
        is the cumulative max of those positions, so a row's running
        length is ``idx - start + 1``. Returns (running length, run
        end): the end is the last row of a true run, where the next
        flag is not true. Mirrors the reference's ``.rle()``
        (feature_extractors.py:1013-1027) without any run-keyed window.
        """
        idx = self.idx()
        start = self.helper(
            f"__start_{key}",
            lambda: F.max(F.when(~flag.eqNullSafe(prev), idx)).over(self.cw),
            2,
        )
        return idx - start + 1, flag & ~F.coalesce(nxt, F.lit(False))


# ---------------------------------------------------------------------------
# Feature definitions. Each takes a PanelCtx (+ params) and returns a Column
# aggregate expression valid inside groupBy(entity).agg(...).
# ---------------------------------------------------------------------------


def absolute_energy(c: PanelCtx) -> Column:
    """sum(x^2). Ref feature_extractors.py:57-73."""
    return F.sum(c.x * c.x)


def absolute_maximum(c: PanelCtx) -> Column:
    """max(|min|, |max|). Ref feature_extractors.py:76-92."""
    return F.greatest(F.abs(F.min(c.x)), F.abs(F.max(c.x)))


def _sum0(col: Column) -> Column:
    """Polars/empty-sum semantics: sum over no rows is 0, not NULL."""
    return F.coalesce(F.sum(col), F.lit(0.0))


def absolute_sum_of_changes(c: PanelCtx) -> Column:
    """sum(|diff|). Ref feature_extractors.py:95-108. Empty-sum = 0
    (Polars semantics, pinned by the tsfresh golden battery)."""
    return _sum0(F.abs(c.diff()))


def autocorrelation(c: PanelCtx, n_lags: int = 1) -> Column:
    """sum((x-mu)(x_lag-mu)) / (var_pop * (n-lag)). Ref :231-259."""
    if n_lags == 0:
        return F.lit(1.0)
    mu = c.mean()
    prod = (c.x - mu) * (c.lag(n_lags) - mu)
    return F.sum(prod) / (F.var_pop(c.x) * (F.count(c.x) - F.lit(n_lags)))


def benford_correlation(c: PanelCtx) -> Column:
    """Pearson corr of first-digit counts vs Benford's law. Ref
    feature_extractors.py:303-346.

    The first significant digit is representation-independent (the
    mantissa's leading digit), so it is extracted natively as the first
    [1-9] character of the value's string form — equivalent to the
    reference's strip_chars_start("-0.") + slice(0,1) for numeric
    strings, including scientific notation. The reference seeds each
    digit with one occurrence and correlates (counts - 1) with
    log10(1+1/d); Pearson is shift-invariant, so we correlate the
    seeded counts directly via the closed form over nine conditional
    counts — a pure aggregate, no extra shuffle and no UDF.
    """
    c.helper(
        "__benford_digit",
        lambda: F.regexp_extract(c.x.cast("string"), "[1-9]", 0),
        1,
    )
    ben = [math.log10(1.0 + 1.0 / d) for d in range(1, 10)]
    # ONE F.expr call: building this closed form as Column objects cost
    # a py4j round-trip per operator node (~0.45 s of driver time — the
    # wall of the thread-pooled fused build); the SQL string parses
    # JVM-side into the identical tree (same literals via repr
    # round-trip, same left-associated sums), so values are unchanged.
    cnts = [
        f"(sum(CAST((__benford_digit = '{d}') AS DOUBLE)) + 1.0D)"
        for d in range(1, 10)
    ]
    k = 9.0
    s_c = " + ".join(cnts)
    s_c2 = " + ".join(f"{cd} * {cd}" for cd in cnts)
    s_cb = " + ".join(f"{cd} * {bd!r}D" for cd, bd in zip(cnts, ben))
    s_b = sum(ben)
    s_b2 = sum(b * b for b in ben)
    return F.expr(
        f"({k!r}D * ({s_cb}) - ({s_c}) * {s_b!r}D) / "
        f"SQRT(({k!r}D * ({s_c2}) - ({s_c}) * ({s_c})) * "
        f"{k * s_b2 - s_b * s_b!r}D)"
    )


def _entropy(key: str, domain) -> Column:
    """-sum (c/N) ln(c/N) over the non-zero counts c of helper column
    ``key`` taking each value of the static ``domain``; N counts the
    non-null keys, and an entity with none is NULL.

    Conditional counts in the final aggregate, so a histogram needs no
    key-partitioned window (and no sort). One F.expr: the terms parse
    JVM-side in one py4j call.
    """
    cnts = [f"count(CASE WHEN {key} = {k} THEN 1 END)" for k in domain]
    tot = f"count({key})"
    terms = " + ".join(
        f"CASE WHEN {cn} > 0 THEN {cn} / {tot} * ln({cn} / {tot}) ELSE 0D END"
        for cn in cnts
    )
    return F.expr(f"CASE WHEN {tot} > 0 THEN -({terms}) END")


def binned_entropy(c: PanelCtx, bin_count: int = 10) -> Column:
    """Entropy of equal-width histogram counts. Ref :380-408.

    bin = floor((x - min) / (1e-12 + range/bins)); H = -sum p ln p with
    p = bin_count/n, over the bins 0..bin_count (the maximum lands in
    bin ``bin_count`` when the 1e-12 is lost to rounding).
    """
    vmin, vmax = c.vmin(), c.vmax()
    key = f"__bin_{bin_count}"
    c.helper(
        key,
        lambda: F.floor(
            (c.x - vmin) / (F.lit(1e-12) + (vmax - vmin) / F.lit(bin_count))
        ),
        2,
    )
    return _entropy(key, range(bin_count + 1))


def c3(c: PanelCtx, n_lags: int = 1) -> Column:
    """sum(x * x_{t+l} * x_{t+2l}) / (n - 2l). Ref :411-437.
    Empty-sum = 0 so n < 2l yields 0/(n-2l) like the reference (0 for
    negative denominators, undefined for n == 2l)."""
    return _sum0(c.x * c.lead(n_lags) * c.lead(2 * n_lags)) / (
        F.count(c.x) - F.lit(2 * n_lags)
    )


def change_quantiles(
    c: PanelCtx, q_low: float = 0.1, q_high: float = 0.9, is_abs: bool = True
) -> Column:
    """Stats over changes inside the [q_low, q_high] corridor. Ref :440-484.

    The reference returns the raw list of corridor changes; we return a
    struct(n, mean, std) summary of the same multiset (deviation noted:
    scalar summary instead of list, for a stable distributed output).
    """
    lo, hi = c.quantile(q_low), c.quantile(q_high)
    inside = c.x.between(lo, hi)
    prev_inside = F.coalesce(c.lag(1).between(lo, hi), F.lit(False))
    d = c.diff()
    if is_abs:
        d = F.abs(d)
    sel = F.when(inside & prev_inside, d)
    return F.struct(
        F.count(sel).alias("n"),
        F.avg(sel).alias("mean"),
        F.stddev_samp(sel).alias("std"),
    )


def cid_ce(c: PanelCtx, normalize: bool = False) -> Column:
    """sqrt(sum(diff^2)), optionally z-normalized. Ref :488-517."""
    ss = F.sum(c.diff() * c.diff())
    if normalize:
        return F.sqrt(ss) / F.stddev_pop(c.x)
    return F.sqrt(ss)


def count_above(c: PanelCtx, threshold: float = 0.0) -> Column:
    """100 * sum(x >= t) / n. Ref :520-535."""
    return F.lit(100.0) * F.count(F.when(c.x >= threshold, 1)) / F.count(c.x)


def count_below(c: PanelCtx, threshold: float = 0.0) -> Column:
    """100 * sum(x <= t) / n. Ref :555-570."""
    return F.lit(100.0) * F.count(F.when(c.x <= threshold, 1)) / F.count(c.x)


def count_above_mean(c: PanelCtx) -> Column:
    """sum(x > mean). Ref :539-552."""
    return F.count(F.when(c.x > c.mean(), 1))


def count_below_mean(c: PanelCtx) -> Column:
    """sum(x < mean). Ref :573-586."""
    return F.count(F.when(c.x < c.mean(), 1))


def energy_ratios(c: PanelCtx, n_chunks: int = 10) -> Column:
    """Per-chunk sum(x^2) / total, over n_chunks equal segments. Ref :628-658.

    Chunk length = ceil(n / n_chunks) (the reference zero-pads to a
    multiple); trailing all-padding chunks contribute ratio 0. One
    conditional sum per chunk in the final aggregate.
    """
    n, idx = c.n(), c.idx()
    chunk = c.helper(
        f"__chunk_{n_chunks}",
        lambda: F.floor(idx / F.ceil(n / F.lit(n_chunks))),
        2,
    )
    sq = c.x * c.x
    total = F.sum(sq)
    return F.array(
        *[
            F.coalesce(F.sum(F.when(chunk == k, sq)), F.lit(0.0)) / total
            for k in range(n_chunks)
        ]
    )


def first_location_of_maximum(c: PanelCtx) -> Column:
    """argmax / n (first occurrence). Ref :661-676."""
    return F.min(F.when(c.x == c.vmax(), c.idx())) / F.count(c.x)


def first_location_of_minimum(c: PanelCtx) -> Column:
    """argmin / n. Ref :678-692."""
    return F.min(F.when(c.x == c.vmin(), c.idx())) / F.count(c.x)


def last_location_of_maximum(c: PanelCtx) -> Column:
    """(last argmax + 1) / n. Ref :876-894."""
    return (F.max(F.when(c.x == c.vmax(), c.idx())) + 1) / F.count(c.x)


def last_location_of_minimum(c: PanelCtx) -> Column:
    """(last argmin + 1) / n. Ref :897-915."""
    return (F.max(F.when(c.x == c.vmin(), c.idx())) + 1) / F.count(c.x)


def has_duplicate(c: PanelCtx) -> Column:
    """Any value occurring more than once. Ref :775-788."""
    return F.max(c.val_cnt()) > 1


def has_duplicate_max(c: PanelCtx) -> Column:
    """Ref :791-804."""
    return F.count(F.when(c.x == c.vmax(), 1)) > 1


def has_duplicate_min(c: PanelCtx) -> Column:
    """Ref :807-820."""
    return F.count(F.when(c.x == c.vmin(), 1)) > 1


def index_mass_quantile(c: PanelCtx, q: float = 0.5) -> Column:
    """Relative index where q of |x| mass lies left. Ref :823-851."""
    target = F.lit(q) * c.tot_abs()
    first_idx = F.min(F.when(c.cum_abs() >= target, c.idx()))
    return (first_idx + 1) / F.count(c.x)


def large_standard_deviation(c: PanelCtx, ratio: float = 0.25) -> Column:
    """std_samp > ratio * range. Ref :854-873."""
    return F.stddev_samp(c.x) > (F.lit(ratio) * (F.max(c.x) - F.min(c.x)))


def linear_trend(c: PanelCtx) -> Column:
    """OLS of x on 0..n-1 → struct(slope, intercept, rss). Ref :956-994."""
    idx = c.idx().cast("double")
    n = F.count(c.x)
    beta = F.covar_samp(idx, c.x) / F.var_samp(idx)
    alpha = F.avg(c.x) - beta * (n - 1) / 2
    sxx = F.sum(c.x * c.x)
    sxi = F.sum(c.x * idx)
    sx = F.sum(c.x)
    sii = F.sum(idx * idx)
    si = F.sum(idx)
    rss = (
        sxx
        - 2 * beta * sxi
        - 2 * alpha * sx
        + beta * beta * sii
        + 2 * alpha * beta * si
        + n * alpha * alpha
    )
    return F.struct(beta.alias("slope"), alpha.alias("intercept"), rss.alias("rss"))


def _longest(c: PanelCtx, key: str, flag: Column, prev: Column, nxt: Column) -> Column:
    """Longest true run of a row flag (0 when there is none)."""
    run_len, _ = c.streak(key, flag, prev, nxt)
    return F.coalesce(F.max(F.when(flag, run_len)), F.lit(0)).cast("long")


def longest_streak_above_mean(c: PanelCtx) -> Column:
    """Longest run of x > mean. Ref :997-1027."""
    mu = c.mean()
    return _longest(c, "abovemean", c.x > mu, c.lag(1) > mu, c.lead(1) > mu)


def longest_streak_below_mean(c: PanelCtx) -> Column:
    """Ref :1030-1060."""
    mu = c.mean()
    return _longest(c, "belowmean", c.x < mu, c.lag(1) < mu, c.lead(1) < mu)


def mean_abs_change(c: PanelCtx) -> Column:
    """avg(|diff|). Ref :1063-1077."""
    return F.avg(F.abs(c.diff()))


def max_abs_change(c: PanelCtx) -> Column:
    """max(|diff|). Ref :1080-1094."""
    return F.max(F.abs(c.diff()))


def mean_change(c: PanelCtx) -> Column:
    """(last - first)/(n-1), 0 when n<=1. Ref :1097-1117."""
    n = F.count(c.x)
    last = F.max_by(c.x, c.idx())
    first = F.min_by(c.x, c.idx())
    return F.when(n > 1, (last - first) / (n - 1)).otherwise(F.lit(0.0))


def mean_n_absolute_max(c: PanelCtx, n_maxima: int = 3) -> Column:
    """Mean of n largest |x|. Ref :1120-1137."""
    arr = F.slice(
        F.sort_array(F.collect_list(F.abs(c.x)), asc=False), 1, n_maxima
    )
    return F.aggregate(arr, F.lit(0.0), lambda acc, v: acc + v) / F.size(arr)


def mean_second_derivative_central(c: PanelCtx) -> Column:
    """(x[n-1] - x[n-2] - x[1] + x[0]) / (2(n-2)). Ref :1140-1162."""
    n_h = c.n()
    idx = c.idx()
    x_last = F.max(F.when(idx == n_h - 1, c.x))
    x_secondlast = F.max(F.when(idx == n_h - 2, c.x))
    x_1 = F.max(F.when(idx == 1, c.x))
    x_0 = F.max(F.when(idx == 0, c.x))
    n = F.count(c.x)
    return F.when(n < 3, F.lit(float("nan"))).otherwise(
        (x_last - x_secondlast - x_1 + x_0) / (2 * (n - 2))
    )


def number_crossings(c: PanelCtx, crossing_value: float = 0.0) -> Column:
    """Count of sign changes of (x > m). Ref :1165-1184."""
    m = F.lit(crossing_value)
    chg = F.when((c.x > m) != (c.lag(1) > m), 1).otherwise(0)
    return F.sum(chg).cast("long")


def number_peaks(c: PanelCtx, support: int = 1) -> Column:
    """Count of values larger than all `support` neighbours. Ref :1276-1312."""
    cond = F.lit(True)
    for i in range(1, support + 1):
        cond = cond & F.coalesce((c.x > c.lead(i)) & (c.x > c.lag(i)), F.lit(False))
    return F.count(F.when(cond, 1)).cast("long")


def percent_reoccurring_points(c: PanelCtx) -> Column:
    """1 - (#unique-occurrence points)/n. Ref :1228-1249."""
    vc = c.val_cnt()
    return F.lit(1.0) - F.count(F.when(vc == 1, 1)) / F.count(c.x)


def percent_reoccurring_values(c: PanelCtx) -> Column:
    """#distinct values with count>1 / #distinct. Ref :1252-1273."""
    vc, fo = c.val_cnt(), c.first_occ()
    return F.count(F.when(fo & (vc > 1), 1)) / F.count(F.when(fo, 1))


def permutation_entropy(c: PanelCtx, tau: int = 1, n_dims: int = 3) -> Column:
    """Entropy of ordinal-pattern counts. Ref :1315-1372.

    Pattern id encodes the rank vector of (x_t, x_{t+1}, ..,
    x_{t+d-1}) with stable tie-breaking by position (= Polars
    arg_sort); entropy is natural-log, normalized counts over the d!
    possible patterns.
    """
    d = n_dims
    vals = [c.x] + [c.lead(i) for i in range(1, d)]

    def _rank(i: int) -> Column:
        r = F.lit(0)
        for j in range(d):
            if j == i:
                continue
            lt = vals[j] < vals[i]
            tie = (vals[j] == vals[i]) & F.lit(j < i)
            r = r + F.when(lt | tie, 1).otherwise(0)
        return r

    pattern = F.lit(0)
    for i in range(d):
        pattern = pattern + _rank(i) * F.lit(d**i)

    n_h, idx = c.n(), c.idx()
    valid = idx <= n_h - F.lit(d)
    if tau > 1:
        valid = valid & (idx % tau == 0)
    key = f"__pe_{tau}_{d}"
    c.helper(key, lambda: F.when(valid, pattern), 2)
    # the pattern ids of the d! rank vectors, enumerated in Python
    domain = sorted(
        sum(r * d**i for i, r in enumerate(ranks))
        for ranks in itertools.permutations(range(d))
    )
    return _entropy(key, domain)


def range_count(
    c: PanelCtx, lower: float = 0.0, upper: float = 1.0, closed: str = "left"
) -> Column:
    """Count of x in the interval. Ref :1375-1398."""
    lo, hi = F.lit(lower), F.lit(upper)
    conds = {
        "left": (c.x >= lo) & (c.x < hi),
        "right": (c.x > lo) & (c.x <= hi),
        "both": (c.x >= lo) & (c.x <= hi),
        "none": (c.x > lo) & (c.x < hi),
    }
    return F.count(F.when(conds[closed], 1)).cast("long")


def ratio_beyond_r_sigma(c: PanelCtx, ratio: float = 0.25) -> Column:
    """Share of points beyond mean ± r*std_pop. Ref :1401-1425."""
    mu_h, sd_h = c.mean(), c.std_pop()
    outside = ~c.x.between(
        mu_h - F.lit(ratio) * sd_h, mu_h + F.lit(ratio) * sd_h
    )
    return F.count(F.when(outside, 1)) / F.count(c.x)


def ratio_n_unique_to_length(c: PanelCtx) -> Column:
    """countDistinct / n (expand-free). Ref :1428-1441."""
    return F.count(F.when(c.first_occ(), 1)) / F.count(c.x)


def root_mean_square(c: PanelCtx) -> Column:
    """sqrt(mean(x^2)). Ref :1444-1460."""
    return F.sqrt(F.sum(c.x * c.x) / F.count(c.x))


def sum_reoccurring_points(c: PanelCtx) -> Column:
    """Sum over all points whose value reoccurs. Ref :1565-1583."""
    return F.coalesce(F.sum(F.when(c.val_cnt() > 1, c.x)), F.lit(0.0))


def sum_reoccurring_values(c: PanelCtx) -> Column:
    """Sum over distinct reoccurring values (expand-free). Ref
    :1586-1611."""
    vc, fo = c.val_cnt(), c.first_occ()
    return F.coalesce(F.sum(F.when(fo & (vc > 1), c.x)), F.lit(0.0))


def symmetry_looking(c: PanelCtx, ratio: float = 0.25) -> Column:
    """|mean - median| < ratio * range. Ref :1614-1637."""
    return F.abs(F.avg(c.x) - F.median(c.x)) < F.lit(ratio) * (
        F.max(c.x) - F.min(c.x)
    )


def time_reversal_asymmetry_statistic(c: PanelCtx, n_lags: int = 1) -> Column:
    """avg(x_{t+l} * (x_{t+2l} + x) * (x_{t+2l} - x)). Ref :1640-1657."""
    l1, l2 = c.lead(n_lags), c.lead(2 * n_lags)
    return F.avg(l1 * (l2 + c.x) * (l2 - c.x))


def variation_coefficient(c: PanelCtx) -> Column:
    """std_pop / mean. Ref :1660-1676."""
    return F.stddev_pop(c.x) / F.avg(c.x)


def var_gt_std(c: PanelCtx, ddof: int = 1) -> Column:
    """var >= 1. Ref :1679-1695."""
    v = F.var_samp(c.x) if ddof == 1 else F.var_pop(c.x)
    return v >= 1


def skewness(c: PanelCtx) -> Column:
    """Population skewness g1 = m3 / m2^1.5 — Polars'
    `Expr.skew(bias=True)`, which the reference battery reaches
    through the host expression API rather than its own extractor
    file. Spark's built-in F.skewness computes exactly this
    (central-moment, population-normalized). NOTE: tsfresh's
    `skewness` is pandas' bias-CORRECTED G1 (factor
    sqrt(n(n-1))/(n-2)) — a different estimator; this extractor pins
    the Polars/Spark population semantics."""
    return F.skewness(c.x)


def kurtosis(c: PanelCtx) -> Column:
    """Population EXCESS kurtosis g2 = m4 / m2^2 - 3 — Polars'
    `Expr.kurtosis(fisher=True, bias=True)`, reached via the host
    expression API in the reference. Spark's built-in F.kurtosis
    computes exactly this. NOTE: tsfresh's `kurtosis` is pandas'
    bias-corrected G2 — a different estimator; this extractor pins
    the Polars/Spark population semantics."""
    return F.kurtosis(c.x)


def harmonic_mean(c: PanelCtx) -> Column:
    """n / sum(1/x). Ref :1698-1711."""
    return F.count(c.x) / F.sum(F.lit(1.0) / c.x)


def range_over_mean(c: PanelCtx) -> Column:
    """(max - min)/mean. Ref :1714-1727."""
    return (F.max(c.x) - F.min(c.x)) / F.avg(c.x)


def range_change(c: PanelCtx, percentage: bool = True) -> Column:
    """max/min - 1 or max - min. Ref :1730-1749."""
    if percentage:
        return F.max(c.x) / F.min(c.x) - F.lit(1.0)
    return F.max(c.x) - F.min(c.x)


def _diff_flags(c: PanelCtx, above: bool, threshold: float):
    """(key, flag, prev, nxt) of diff >= / <= threshold, for
    ``PanelCtx.streak``. The first row's flag is null: its run is
    discarded, and it must not merge with an adjacent False run."""
    t = F.lit(threshold)

    def cond(d: Column) -> Column:
        return d >= t if above else d <= t

    lag1, lag2, lead1 = c.lag(1), c.lag(2), c.lead(1)
    flag = F.when(lag1.isNotNull(), cond(c.x - lag1))
    prev = F.when(lag2.isNotNull(), cond(lag1 - lag2))
    return f"{'ge' if above else 'le'}_{threshold}", flag, prev, cond(lead1 - c.x)


def longest_streak_above(c: PanelCtx, threshold: float = 0.0) -> Column:
    """Longest run of diff >= threshold. Ref :1805-1837."""
    return _longest(c, *_diff_flags(c, True, threshold))


def longest_streak_below(c: PanelCtx, threshold: float = 0.0) -> Column:
    """Longest run of diff <= threshold. Ref :1840-1872."""
    return _longest(c, *_diff_flags(c, False, threshold))


def longest_winning_streak(c: PanelCtx) -> Column:
    """Ref :1875-1889."""
    return longest_streak_above(c, 0.0)


def longest_losing_streak(c: PanelCtx) -> Column:
    """Ref :1892-1905."""
    return longest_streak_below(c, 0.0)


def streak_length_stats(
    c: PanelCtx, above: bool = True, threshold: float = 0.0
) -> Column:
    """Distribution stats over run lengths of diff-threshold streaks.

    Ref :1752-1802. Each run's length is read at its last row. p10/p90
    use the reference's 'nearest' quantile (Polars default: sorted
    value at round(q*(n-1))), median is the true linear median — both
    replayed exactly in the DuckDB oracle. Mode ties break to the
    smallest length (reference sorts then takes first), as
    ``mode(deterministic=True)`` does.
    """
    run_len, run_end = c.streak(*_diff_flags(c, above, threshold))
    v = F.when(run_end, run_len)
    lens = F.array_sort(F.collect_list(v))  # nulls dropped by collect_list
    n_runs = F.size(lens)

    def _nearest(q: float) -> Column:
        idx = (F.round(F.lit(q) * (n_runs - 1)) + 1).cast("int")
        return F.when(n_runs > 0, F.element_at(lens, idx)).cast("double")

    return F.struct(
        F.greatest(F.min(v), F.lit(0)).cast("long").alias("min"),
        F.max(v).cast("long").alias("max"),
        F.avg(v).alias("mean"),
        F.stddev_samp(v).alias("std"),
        _nearest(0.1).alias("p10"),
        F.percentile(v, F.lit(0.5)).alias("median"),
        _nearest(0.9).alias("p90"),
        F.mode(v, deterministic=True).cast("long").alias("mode"),
    )


# ---------------------------------------------------------------------------
# Registry + driver
# ---------------------------------------------------------------------------

#: name -> (builder, default_params). Builders with params are partially
#: applied at extract time.
FEATURES: dict = {
    "absolute_energy": (absolute_energy, {}),
    "absolute_maximum": (absolute_maximum, {}),
    "absolute_sum_of_changes": (absolute_sum_of_changes, {}),
    "autocorrelation": (autocorrelation, {"n_lags": 1}),
    "benford_correlation": (benford_correlation, {}),
    "binned_entropy": (binned_entropy, {"bin_count": 10}),
    "c3": (c3, {"n_lags": 1}),
    "change_quantiles": (change_quantiles, {"q_low": 0.1, "q_high": 0.9, "is_abs": True}),
    "cid_ce": (cid_ce, {"normalize": False}),
    "count_above": (count_above, {"threshold": 0.0}),
    "count_below": (count_below, {"threshold": 0.0}),
    "count_above_mean": (count_above_mean, {}),
    "count_below_mean": (count_below_mean, {}),
    "energy_ratios": (energy_ratios, {"n_chunks": 10}),
    "first_location_of_maximum": (first_location_of_maximum, {}),
    "first_location_of_minimum": (first_location_of_minimum, {}),
    "last_location_of_maximum": (last_location_of_maximum, {}),
    "last_location_of_minimum": (last_location_of_minimum, {}),
    "has_duplicate": (has_duplicate, {}),
    "has_duplicate_max": (has_duplicate_max, {}),
    "has_duplicate_min": (has_duplicate_min, {}),
    "index_mass_quantile": (index_mass_quantile, {"q": 0.5}),
    "large_standard_deviation": (large_standard_deviation, {"ratio": 0.25}),
    "linear_trend": (linear_trend, {}),
    "longest_streak_above_mean": (longest_streak_above_mean, {}),
    "longest_streak_below_mean": (longest_streak_below_mean, {}),
    "mean_abs_change": (mean_abs_change, {}),
    "max_abs_change": (max_abs_change, {}),
    "mean_change": (mean_change, {}),
    "mean_n_absolute_max": (mean_n_absolute_max, {"n_maxima": 3}),
    "mean_second_derivative_central": (mean_second_derivative_central, {}),
    "number_crossings": (number_crossings, {"crossing_value": 0.0}),
    "number_peaks": (number_peaks, {"support": 1}),
    "percent_reoccurring_points": (percent_reoccurring_points, {}),
    "percent_reoccurring_values": (percent_reoccurring_values, {}),
    "permutation_entropy": (permutation_entropy, {"tau": 1, "n_dims": 3}),
    "range_count": (range_count, {"lower": 0.0, "upper": 1.0, "closed": "left"}),
    "ratio_beyond_r_sigma": (ratio_beyond_r_sigma, {"ratio": 0.25}),
    "ratio_n_unique_to_length": (ratio_n_unique_to_length, {}),
    "root_mean_square": (root_mean_square, {}),
    "sum_reoccurring_points": (sum_reoccurring_points, {}),
    "sum_reoccurring_values": (sum_reoccurring_values, {}),
    "symmetry_looking": (symmetry_looking, {"ratio": 0.25}),
    "time_reversal_asymmetry_statistic": (time_reversal_asymmetry_statistic, {"n_lags": 1}),
    "variation_coefficient": (variation_coefficient, {}),
    "var_gt_std": (var_gt_std, {"ddof": 1}),
    "skewness": (skewness, {}),
    "kurtosis": (kurtosis, {}),
    "harmonic_mean": (harmonic_mean, {}),
    "range_over_mean": (range_over_mean, {}),
    "range_change": (range_change, {"percentage": True}),
    "longest_streak_above": (longest_streak_above, {"threshold": 0.0}),
    "longest_streak_below": (longest_streak_below, {"threshold": 0.0}),
    "longest_winning_streak": (longest_winning_streak, {}),
    "longest_losing_streak": (longest_losing_streak, {}),
    "streak_length_stats": (streak_length_stats, {"above": True, "threshold": 0.0}),
}


def _build(entity: str, time: str, value: str, specs: tuple):
    """(stages, aggs) of one fused plan: the helper columns per stage
    and the feature aggregates, each aliased to its name."""
    ctx = PanelCtx(entity, time, value)

    # Expression construction is py4j-round-trip bound (thousands of
    # JVM calls for the full registry): build features concurrently so
    # the socket latencies overlap. ex.map keeps output order; Column
    # construction is pure JVM object creation (thread-safe), and the
    # shared ctx registration is serialized by PanelCtx._lock.
    def _one(item):
        name, builder, params = item
        return builder(ctx, **dict(params)).alias(name)

    if len(specs) > 4:
        with ThreadPoolExecutor(max_workers=8) as ex:
            aggs = tuple(ex.map(_one, specs))
    else:
        aggs = tuple(_one(s) for s in specs)
    return [st for st in ctx.stages if st], aggs


@functools.lru_cache(maxsize=16)
def _build_memo(app_id: str, entity: str, time: str, value: str, specs: tuple):
    """``_build``, once per application. Columns name their inputs and
    hold no data, so one build serves every frame with these column
    names; keyed by the application id, a new session or JVM never
    sees the Columns of an old one."""
    return _build(entity, time, value, specs)


def _app_id(df: DataFrame) -> str | None:
    try:
        return df.sparkSession.sparkContext.applicationId
    except AttributeError:  # Spark Connect client: no sparkContext
        return None


def extract_features(
    df: DataFrame,
    feats: dict | list | None = None,
    entity: str | None = None,
    time: str | None = None,
    value: str | None = None,
) -> DataFrame:
    """Compute many features in one fused plan (one shuffle).

    ``feats``: list of registry names, or dict name -> (builder, params)
    or name -> params (registry builder). Defaults to every native
    feature with default params.
    """
    p = panel_cols(df)
    entity = entity or p.entity
    time = time or p.time
    value = value or p.target

    if feats is None:
        feats = list(FEATURES.keys())
    if isinstance(feats, list):
        feats = {name: FEATURES[name] for name in feats}

    specs = []
    for name, spec in feats.items():
        if isinstance(spec, tuple):
            builder, params = spec
        elif callable(spec):
            builder, params = spec, {}
        else:  # params dict for a registry feature
            builder, params = FEATURES[name][0], spec
        specs.append((name, builder, tuple(sorted(params.items()))))
    specs, app_id = tuple(specs), _app_id(df)
    try:
        hash(specs)
    except TypeError:  # unhashable params: nothing to key the memo on
        app_id = None
    if app_id is None:
        stages, aggs = _build(entity, time, value, specs)
    else:
        stages, aggs = _build_memo(app_id, entity, time, value, specs)

    # pin the single shuffle up front: hashpartitioning(entity)
    # satisfies every window spec below (entity-only AND the (entity,
    # value) subkey spec — subset rule) and the final groupBy, so the
    # planner's window ordering can never introduce a second exchange
    out = df.select(entity, time, value).repartition(F.col(entity))
    for stage_cols in stages:
        out = out.withColumns(stage_cols)
    return out.groupBy(entity).agg(*aggs)


def feature_frame(
    df: DataFrame, name: str, params: dict | None = None, **panel_kw
) -> DataFrame:
    """Single-feature convenience: (entity, <name>) DataFrame."""
    spec = (FEATURES[name][0], params if params is not None else FEATURES[name][1])
    return extract_features(df, {name: spec}, **panel_kw)
