"""k-nearest-neighbour and approximate-NN autoregressive forecasters.

Mirrors functime forecasting/knn.py (sklearn KNeighborsRegressor over
the global lag matrix) and forecasting/lance.py:16-113 (`ann`: Lance
IVF_PQ index over lag vectors, nearest-centroid probing).

Spark-first design
------------------
The training lag matrix is built distributed (one window pass,
`make_reduction`), then sampled to a broadcast-able reference set
(`max_train_rows`, uniform per-partition sampling — at 100 TB the
training matrix cannot live on one node, and kNN quality degrades
gracefully under uniform sampling). Queries stay fully distributed:
each Arrow batch of entities scans the broadcast matrix vectorized in
numpy — embarrassingly parallel across entities, no shuffle at predict
time.

`ann` replaces the exact scan with an IVF coarse quantizer (k-means
centroids trained driver-side on the broadcast sample, ref
lance.py:60-67's IVF_PQ): queries probe the `n_probe` nearest
centroid buckets only, cutting the scan factor to ~n_probe/n_cells.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from functime_spark.forecasting._ar import ARForecaster, make_reduction, predict_ar


def _kmeans(X: np.ndarray, k: int, iters: int = 10, seed: int = 7) -> np.ndarray:
    rng = np.random.RandomState(seed)
    cents = X[rng.choice(len(X), size=min(k, len(X)), replace=False)]
    for _ in range(iters):
        d = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
        assign = d.argmin(1)
        for c in range(len(cents)):
            m = assign == c
            if m.any():
                cents[c] = X[m].mean(0)
    return cents


def _ivf_knn_step(payload):
    """fn(feats[E,k]) -> yhat[E] probing the n_probe nearest IVF cells
    of a cell-sorted reference matrix (bounds = cell offsets). The
    designed path past the brute scan's bandwidth wall: the per-query
    scan covers ~n_probe/n_cells of the reference."""
    feats_ref, targs_ref, C, bd, k, n_probe = payload

    def step(q: np.ndarray) -> np.ndarray:
        dc = (
            (q * q).sum(1)[:, None]
            - 2.0 * (q @ C.T)
            + (C * C).sum(1)[None, :]
        )
        probes = np.argsort(dc, axis=1)[:, :n_probe]
        out = np.empty(len(q))
        for i in range(len(q)):
            idxs = np.concatenate(
                [np.arange(bd[c], bd[c + 1]) for c in probes[i]]
            )
            if len(idxs) == 0:
                idxs = np.arange(len(feats_ref))
            d = ((feats_ref[idxs] - q[i]) ** 2).sum(1)
            kk = min(k, len(idxs))
            near = np.argpartition(d, kk - 1)[:kk]
            out[i] = targs_ref[idxs[near]].mean()
        return out

    return step


def _ivf_pack(feats: np.ndarray, targs: np.ndarray, n_cells: int):
    """(sorted feats, sorted targs, centroids, cell bounds) — the
    shared IVF build used by `ann._fit` and `knn`'s auto re-route."""
    cents = _kmeans(feats, n_cells)
    assign = ((feats[:, None, :] - cents[None, :, :]) ** 2).sum(-1).argmin(1)
    order = np.argsort(assign, kind="stable")
    bounds = np.searchsorted(assign[order], np.arange(len(cents) + 1))
    return feats[order], targs[order], cents, bounds


def _brute_knn_step(ref_payload):
    """fn(feats[E,k]) -> yhat[E] over the broadcast reference matrix.

    Queries are processed in row chunks that cap the E x n_ref
    distance matrix at ~8M doubles (64 MB): an unchunked step on a
    full Arrow batch against a 100k-row reference allocates
    multi-GB temporaries per recursion step and thrashes instead of
    computing. r.r is hoisted out of the per-chunk loop."""
    feats_ref, targs_ref, k = ref_payload
    rr = (feats_ref * feats_ref).sum(1)[None, :]
    kk = min(k, feats_ref.shape[0])
    chunk = max(1, (1 << 23) // max(1, feats_ref.shape[0]))

    def step(q: np.ndarray) -> np.ndarray:
        out = np.empty(len(q), dtype="float64")
        for s in range(0, len(q), chunk):
            qq = q[s : s + chunk]
            # ||q - r||^2 = q.q - 2 q.r + r.r ; argpartition for top-k
            d = (qq * qq).sum(1)[:, None] - 2.0 * (qq @ feats_ref.T) + rr
            idx = np.argpartition(d, kk - 1, axis=1)[:, :kk]
            out[s : s + chunk] = targs_ref[idx].mean(1)
        return out

    return step


def _knn_query(make_scan):
    """make_step for a kNN scan factory (payload -> fn(queries[E,k]) ->
    yhat[E]): the query is the lag block, then the horizon's exogenous
    values."""

    def make(payload):
        scan = make_scan(payload)
        return lambda h, lag, x: scan(lag if x is None else np.hstack([lag, x]))

    return make


def _direct_query(payload):
    """Horizon h scans reference columns h-1 .. h-1+lags (the direct
    design slice) plus the exogenous block after all `width` lag
    columns; the query is the last observed lags for every horizon.
    Ref predict_direct _ar.py:277-330. Each slice's scan (its
    contiguous copy and r.r) is built once per task, on first use,
    and reused by every later Arrow batch; a task holds at most
    max_horizons of them."""
    wide, targs, k, lags, width, mh = payload
    scans = {}

    def step(h, lag, x):
        lo = min(h, mh - 1)
        if lo not in scans:
            ref = wide[:, lo : lo + lags]
            if x is not None:
                ref = np.hstack([ref, wide[:, width:]])
            scans[lo] = _brute_knn_step((np.ascontiguousarray(ref), targs, k))
        q = lag if x is None else np.hstack([lag, x])
        return scans[lo](q)

    return step


class knn(ARForecaster):
    """kNN regression on lag vectors. Ref knn.py:10-34. Strategies:
    recursive (default), direct (per-horizon reference-column slices
    of one shared broadcast matrix — no extra collects), ensemble.
    """

    # the brute recursion costs ~n_ref * n_entities * fh distance
    # evaluations; the 100x stress measured the wall at ~6e10 evals
    # (pure memory bandwidth, SCALE.md). Above SCALE_WALL_EVALS the
    # designed path is IVF probing (`ann`, or on_scale_wall="auto").
    SCALE_WALL_EVALS = 1e9

    def __init__(
        self,
        freq: str,
        lags: int = 12,
        n_neighbors: int = 5,
        max_train_rows: int = 100_000,
        strategy: str = "recursive",
        max_horizons: int | None = None,
        on_scale_wall: str = "warn",
        target_transform=None,
    ):
        super().__init__(
            freq=freq,
            lags=lags,
            strategy=strategy,
            max_horizons=max_horizons,
            target_transform=target_transform,
        )
        self.n_neighbors = n_neighbors
        self.max_train_rows = max_train_rows
        if on_scale_wall not in ("warn", "auto", "ignore"):
            raise ValueError(
                f"on_scale_wall must be warn|auto|ignore, got {on_scale_wall!r}"
            )
        self.on_scale_wall = on_scale_wall

    def _scale_evals(self, fh: int) -> float:
        """Predicted brute-force distance-evaluation count for this
        predict call: n_ref * n_entities * fh. n_entities is the
        design's entity count, taken by the fit's one count action
        (_collect_train), so predict runs no job for it."""
        n_ref = float(len(self.state["train"][0]))
        return n_ref * float(self.state["n_entities"]) * float(fh)

    def _design_width(self) -> int:
        if self.strategy in ("direct", "ensemble"):
            return self.lags + self.max_horizons - 1
        return self.lags

    def _collect_train(self, y: DataFrame, X: DataFrame | None):
        p = self.state["panel"]
        width = self._design_width()
        # exogenous columns join the reference matrix after the lag
        # block (the reference's sklearn KNeighborsRegressor fits the
        # full design, ref knn.py:25-34 + fit_autoreg)
        x_cols = list(X.columns[2:]) if X is not None else []
        self.state["x_cols"] = x_cols
        feature_cols = [f"{p.target}__lag_{k}" for k in range(1, width + 1)]
        cached = (
            make_reduction(y, width, X)
            .select(*feature_cols, *x_cols, p.target, p.entity)
            .persist()
        )
        # one action materializes the cache (the collect below re-reads
        # it) and counts the rows and the entities the scale wall needs
        counts = cached.agg(
            F.count(F.lit(1)).alias("n"), F.countDistinct(p.entity).alias("e")
        ).first()
        n = counts["n"]
        self.state["n_entities"] = counts["e"]
        self.state["sampled"] = n > self.max_train_rows
        design = cached.select(*feature_cols, *x_cols, p.target)
        if self.state["sampled"]:
            design = design.sample(
                fraction=min(1.0, self.max_train_rows / n * 1.05), seed=7
            ).limit(self.max_train_rows)
        pdf = design.toPandas()
        cached.unpersist()
        feats = pdf[feature_cols + x_cols].to_numpy(dtype="float64")
        targs = pdf[p.target].to_numpy(dtype="float64")
        return feats, targs

    def _fit(self, y: DataFrame, X: DataFrame | None = None):
        self.state["train"] = self._collect_train(y, X)
        self.state.pop("ivf", None)
        self._fit_y_lag(y)

    def _route_scale_wall(self, fh: int) -> bool:
        """True when the recursive scan should re-route through IVF.

        Crossing SCALE_WALL_EVALS with on_scale_wall="warn" (default)
        raises a UserWarning naming the designed alternatives; "auto"
        silently builds the IVF structures once (driver k-means over
        the already-collected <= max_train_rows reference) and probes
        instead of brute-scanning; "ignore" keeps the brute scan."""
        import warnings

        if self.on_scale_wall == "ignore":
            return False
        evals = self._scale_evals(fh)
        if evals <= self.SCALE_WALL_EVALS:
            return False
        if self.on_scale_wall == "auto":
            if self.strategy == "recursive":
                return True
            # the IVF re-route only exists for the recursive scan
            # (direct/ensemble rebuild per-horizon reference columns,
            # which the IVF structures don't cover) — say so instead
            # of re-suggesting the option the user already passed
            warnings.warn(
                f"knn predict would run ~{evals:.2e} brute-force distance "
                f"evaluations, past the ~{self.SCALE_WALL_EVALS:.0e} "
                "bandwidth wall, and on_scale_wall='auto' only re-routes "
                f"strategy='recursive' (got {self.strategy!r}: each horizon "
                "scans different reference columns, which one IVF index "
                "does not cover). Use the `ann` forecaster, switch to "
                "strategy='recursive', or pass on_scale_wall='ignore'.",
                stacklevel=3,
            )
            return False
        warnings.warn(
            f"knn predict would run ~{evals:.2e} brute-force distance "
            f"evaluations (n_ref x n_entities x fh), past the "
            f"~{self.SCALE_WALL_EVALS:.0e} bandwidth wall measured in the "
            "100x stress (SCALE.md). Use the `ann` forecaster (IVF "
            "probing), pass on_scale_wall='auto' to re-route this fit "
            "through IVF (recursive strategy only), or "
            "on_scale_wall='ignore' to silence this.",
            stacklevel=3,
        )
        return False

    def _scan(self, state, fh: int, payload, make_step, recursive=True):
        # the per-entity state frame is tiny after its aggregate, so AQE
        # coalesces it to ONE partition and the whole Arrow scan would run
        # in a single task; spread it across the cluster first (no-op when
        # the frame is already parallel)
        from functime_spark.pipeline._util import spread_for_cpu

        return predict_ar(
            spread_for_cpu(state), fh, self.lags, payload, make_step, recursive
        )

    def _predict_direct(self, fh: int, state: DataFrame) -> DataFrame:
        if self.strategy == "direct":  # ensemble checks in its recursive half
            self._route_scale_wall(fh)
        feats_ref, targs_ref = self.state["train"]
        payload = (
            feats_ref,
            targs_ref,
            self.n_neighbors,
            self.lags,
            self._design_width(),
            self.max_horizons,
        )
        return self._scan(state, fh, payload, _direct_query, recursive=False)

    def _predict_recursive(self, fh: int, state: DataFrame) -> DataFrame:
        feats_ref, targs_ref = self.state["train"]
        lags = self.lags
        # recursive scan uses the first `lags` reference columns plus
        # the exogenous block, which sits AFTER all width lag columns —
        # width > lags under the ensemble strategy, so slice both
        # blocks explicitly rather than assuming they are adjacent
        width = self._design_width()
        ref = (
            np.ascontiguousarray(
                np.hstack([feats_ref[:, :lags], feats_ref[:, width:]])
            )
            if self.state.get("x_cols")
            else np.ascontiguousarray(feats_ref[:, :lags])
        )
        if not self._route_scale_wall(fh):
            payload = (ref, targs_ref, self.n_neighbors)
            return self._scan(state, fh, payload, _knn_query(_brute_knn_step))
        # the auto re-route past the bandwidth wall: one driver
        # k-means over the already-collected reference (built once,
        # cached on the fit state), ann-default cell/probe counts
        ivf = self.state.get("ivf")
        if ivf is None:
            ivf = _ivf_pack(ref, targs_ref, n_cells=64)
            self.state["ivf"] = ivf
        payload = (*ivf, self.n_neighbors, 4)
        return self._scan(state, fh, payload, _knn_query(_ivf_knn_step))


class ann(knn):
    """IVF-probed approximate kNN. Ref lance.py:16-113 (IVF_PQ)."""

    def __init__(
        self,
        freq: str,
        lags: int = 12,
        n_neighbors: int = 5,
        n_cells: int = 64,
        n_probe: int = 4,
        max_train_rows: int = 100_000,
        target_transform=None,
    ):
        # recursive-only, like the reference's IVF forecaster (ref
        # lance.py:16-113); IVF probing is itself the route past the
        # brute-force scale wall, so ann has no on_scale_wall either
        super().__init__(
            freq=freq,
            lags=lags,
            n_neighbors=n_neighbors,
            max_train_rows=max_train_rows,
            strategy="recursive",
            target_transform=target_transform,
        )
        self.n_cells = n_cells
        self.n_probe = n_probe

    def _fit(self, y: DataFrame, X: DataFrame | None = None):
        feats, targs = self._collect_train(y, X)
        self.state["train"] = _ivf_pack(feats, targs, self.n_cells)
        self._fit_y_lag(y)

    def _predict_recursive(self, fh: int, state: DataFrame) -> DataFrame:
        # the centroid space spans lag + exogenous dims when fit with X
        payload = (*self.state["train"], self.n_neighbors, self.n_probe)
        return self._scan(state, fh, payload, _knn_query(_ivf_knn_step))
