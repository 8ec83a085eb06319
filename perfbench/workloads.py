"""The benchmark workloads.

Each workload builds its seeded inputs in ``setup`` (timed as part of
``setup_s``), takes what its output checks need in ``reference``
(untimed), and runs one timed pass in ``run_pass``, which returns the
seconds the pass spent on the ``n_series`` entities of its panel, checks
included (the time behind ``series_per_s``). Every call into
functime_spark sits in a span named after the layer it enters; the
span's ``planned()`` mark separates the public call from the action
that consumes its result.
"""

from __future__ import annotations

import math
import random
import time

import numpy as np
from pyspark.sql import functions as F

import inputs
from functime_spark.forecasting import linear_model
from functime_spark.functions.features import extract_features
from functime_spark.functions.features_udf import UDF_FEATURES, extract_features_udf
from functime_spark.operators.cross_validation import train_test_split
from functime_spark.operators.metrics import score_backtest, score_forecast
from functime_spark.operators.preprocessing import scale
from functime_spark.pipeline.dedup import exact_dedup, minhash_dedup
from functime_spark.pipeline.similarity import bm25_topk

# Forecasts score under this sum-ratio SMAPE on the generated panels
# (noise is +-2 on levels of 100 to 200, so a sound forecast sits far below).
SMAPE_BOUND = 0.05
FREQ = "1h"
LAGS = 6


class Tally:
    """Operations attempted and failed; a failed check or an exception
    each count one failure."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list = []

    def check(self, what: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)


def _entity(i: int) -> str:
    return f"e{i:06d}"


def _close(got, want, rtol: float = 1e-8) -> bool:
    return got is not None and math.isclose(got, want, rel_tol=rtol, abs_tol=1e-9)


class FeaturesBulk:
    """All native features plus four Python-kernel features over one panel."""

    n_entities, n_times = 60, 240
    udf_feats = (
        "sample_entropy",
        "lempel_ziv_complexity",
        "augmented_dickey_fuller",
        "fourier_entropy",
    )

    def setup(self, spark, seed: int) -> None:
        self.seed = seed
        self.y = inputs.pin(inputs.panel(spark, seed, self.n_entities, self.n_times))

    def reference(self) -> None:
        rng = random.Random(self.seed)
        sample = [_entity(i) for i in sorted(rng.sample(range(self.n_entities), 8))]
        pdf = self.y.filter(F.col("entity").isin(sample)).toPandas()
        self.expected = {}
        for e, g in pdf.sort_values("time").groupby("entity"):
            x = g["value"].to_numpy(dtype="float64")
            mu, n = x.mean(), len(x)
            t = np.arange(n, dtype="float64")
            slope = np.cov(t, x, ddof=1)[0, 1] / t.var(ddof=1)
            self.expected[e] = {
                "variation_coefficient": x.std() / mu,
                "root_mean_square": math.sqrt((x * x).mean()),
                "autocorrelation": ((x[1:] - mu) * (x[:-1] - mu)).sum() / (x.var() * (n - 1)),
                "linear_trend": slope,
                "mean_abs_change": np.abs(np.diff(x)).mean(),
            }
            for f in self.udf_feats:
                fn, params, _ = UDF_FEATURES[f]
                self.expected[e][f] = fn(x, **params)

    def run_pass(self, tr, tally: Tally) -> None:
        with tr.span("functions.features") as sp:
            out = extract_features(self.y)
            sp.planned()
            rows = {r["entity"]: r for r in out.collect()}
        with tr.span("functions.features_udf") as sp:
            out = extract_features_udf(self.y, list(self.udf_feats))
            sp.planned()
            urows = {r["entity"]: r for r in out.collect()}
        tally.check("native features: one row per entity", len(rows) == self.n_entities)
        tally.check("udf features: one row per entity", len(urows) == self.n_entities)
        native_ok = udf_ok = True
        for e, want in self.expected.items():
            r, u = rows.get(e), urows.get(e)
            if r is None or u is None:
                native_ok = udf_ok = False
                continue
            got = {k: r[k] for k in ("variation_coefficient", "root_mean_square",
                                     "autocorrelation", "mean_abs_change")}
            got["linear_trend"] = r["linear_trend"]["slope"]
            native_ok &= all(_close(got[k], want[k]) for k in got)
            udf_ok &= all(
                _close(u[f], want[f]) or (u[f] is not None and math.isnan(u[f]) and math.isnan(want[f]))
                for f in self.udf_feats
            )
        tally.check("native features match numpy on the sampled entities", native_ok)
        tally.check("udf features match the numpy kernels on the sampled entities", udf_ok)


class ForecastBacktest:
    """split -> scale -> linear AR fit -> predict -> backtest -> scores."""

    name = "forecast_backtest"
    n_entities, n_times = 100, 240
    n_series = n_entities
    # its passes are short, so the JVM is still compiling hot paths after
    # one: the pass after it runs about 10% faster than the one before
    warmups = 2
    fh, n_splits = 24, 3

    def setup(self, spark, seed: int) -> None:
        self.y = inputs.pin(inputs.panel(spark, seed, self.n_entities, self.n_times))

    def reference(self) -> None:
        pass

    def run_pass(self, tr, tally: Tally) -> float:
        t0 = time.perf_counter()
        n, fh = self.n_entities, self.fh
        with tr.span("operators.cross_validation") as sp:
            train, test = train_test_split(self.y, test_size=fh)
            sp.planned()
            train, test = train.persist(), test.persist()
            tally.check("split sizes", (train.count(), test.count()) == (n * (self.n_times - fh), n * fh))
        with tr.span("operators.preprocessing") as sp:
            scaler = scale()
            ys = scaler.transform(train)
            sp.planned()
            ys = ys.persist()
            tally.check("scaled rows", ys.count() == n * (self.n_times - fh))
        with tr.span("forecasting.fit"):
            model = linear_model(freq=FREQ, lags=LAGS).fit(ys)
        with tr.span("forecasting.predict") as sp:
            pred = scaler.invert(model.predict(fh))
            sp.planned()
            pred = pred.persist()
            tally.check("forecast rows = entities x fh", pred.count() == n * fh)
        with tr.span("forecasting.backtest") as sp:
            bt = scaler.invert(model.backtest(ys, test_size=fh, n_splits=self.n_splits))
            sp.planned()
            bt = bt.persist()
            tally.check("backtest rows = entities x fh x splits", bt.count() == n * fh * self.n_splits)
        with tr.span("operators.metrics") as sp:
            fs = score_forecast(test, pred, train)
            bs = score_backtest(train, bt)
            sp.planned()
            fs, bs = fs.collect(), bs.collect()
        for what, scores in (("forecast", fs), ("backtest", bs)):
            tally.check(
                f"{what} smape finite and under {SMAPE_BOUND} for every entity",
                len(scores) == n and all(
                    r["smape"] is not None and 0 <= r["smape"] < SMAPE_BOUND for r in scores
                ),
            )
        return time.perf_counter() - t0


class CorpusDedup:
    """Exact + MinHash near-dup dedup and BM25 queries over a corpus."""

    n_base, n_exact, n_near = 400, 40, 60
    n_queries, query_words = 2, 6
    threshold = 0.5

    def setup(self, spark, seed: int) -> None:
        self.seed = seed
        self.c = inputs.corpus(seed, self.n_base, self.n_exact, self.n_near)
        self.docs = inputs.pin(
            inputs.corpus_frame(spark, self.c, spark.sparkContext.defaultParallelism)
        )

    def reference(self) -> None:
        first: dict = {}
        for doc_id, text in self.c.docs:
            cnt = first.setdefault(text, [doc_id, 0])
            cnt[0] = min(cnt[0], doc_id)
            cnt[1] += 1
        self.exact_expected = {i: n for i, n in first.values()}
        rng = random.Random(self.seed)
        text_of = dict(self.c.docs)
        bases = sorted(set(self.c.group.values()))
        self.queries = []
        for b in rng.sample(bases, self.n_queries):
            words = rng.sample(text_of[b].split(), self.query_words)
            self.queries.append((" ".join(words), b))

    def run_pass(self, tr, tally: Tally) -> None:
        group = self.c.group
        with tr.span("pipeline.dedup") as sp:
            ex = exact_dedup(self.docs)
            sp.planned()
            got = {r["doc_id"]: r["n_copies"] for r in ex.collect()}
        tally.check("exact_dedup keeps the smallest id per text with its copy count",
                    got == self.exact_expected)
        with tr.span("pipeline.dedup") as sp:
            mh = minhash_dedup(self.docs, threshold=self.threshold)
            sp.planned()
            pairs = [(r["id_a"], r["id_b"]) for r in mh.collect()]
        tally.check("minhash pairs stay inside planted groups",
                    all(group[a] == group[b] for a, b in pairs))
        tally.check("minhash recovers >= 95% of planted duplicates",
                    _recall(pairs, group) >= 0.95)
        for q, base in self.queries:
            with tr.span("pipeline.similarity") as sp:
                top = bm25_topk(self.docs, q, k=5)
                sp.planned()
                rows = top.collect()
            tally.check("bm25 top hit is from the queried document's group",
                        bool(rows) and group[rows[0]["doc_id"]] == base)


def _recall(pairs: list, group: dict) -> float:
    """Share of planted copies that the pairs connect to their base."""
    parent = {i: i for i in group}

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for a, b in pairs:
        parent[find(a)] = find(b)
    copies = [i for i, b in group.items() if i != b]
    return sum(find(i) == find(group[i]) for i in copies) / max(len(copies), 1)


class Bulk:
    """FeaturesBulk then CorpusDedup in one pass; ``series_per_s``
    counts the features part only."""

    name = "bulk"

    def __init__(self):
        self.features, self.corpus = FeaturesBulk(), CorpusDedup()
        self.n_series = self.features.n_entities

    def setup(self, spark, seed: int) -> None:
        self.features.setup(spark, seed)
        self.corpus.setup(spark, seed)

    def reference(self) -> None:
        self.features.reference()
        self.corpus.reference()

    def run_pass(self, tr, tally: Tally) -> float:
        t0 = time.perf_counter()
        self.features.run_pass(tr, tally)
        series_s = time.perf_counter() - t0
        self.corpus.run_pass(tr, tally)
        return series_s


WORKLOADS = {w.name: w for w in (Bulk, ForecastBacktest)}
