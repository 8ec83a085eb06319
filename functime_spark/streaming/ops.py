"""Streaming panel operators: watermarked resample, sliding-window
stats, stateful CUSUM.

Batch/stream symmetry: each function only uses operations legal in
Structured Streaming append/update modes (`F.window` time buckets,
grouped aggregations, applyInPandasWithState), so the SAME code path
serves both `spark.read` and `spark.readStream` inputs. On a stream,
late data beyond the watermark is dropped by Spark; in batch mode the
watermark call is a no-op.

At scale: the windowed aggregations shuffle once on (entity, window)
— the streaming state store keys on the same pair, so a 1000-executor
cluster shards state horizontally by entity, the same
embarrassingly-parallel axis as the batch engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from functime_spark.panel import panel_cols
from functime_spark.compat import broadcast_value

#: resample freq alias -> F.window duration string
_DURATIONS = {
    "s": "seconds",
    "m": "minutes",
    "h": "hours",
    "d": "days",
    "w": "weeks",
}


def _duration(freq: str) -> str:
    n = "".join(ch for ch in freq if ch.isdigit()) or "1"
    unit = freq[len(n):].lower()
    if unit not in _DURATIONS:
        raise ValueError(f"streaming resample supports s/m/h/d/w, got {freq!r}")
    return f"{n} {_DURATIONS[unit]}"


def _is_utc_equivalent(tz: str) -> bool:
    """True when the session zone id resolves to a fixed zero UTC
    offset — 'Etc/GMT', 'GMT0', 'Universal', 'Zulu', '+00:00', ... are
    all value-faithful for an NTZ cast, not just the literal 'UTC'
    (round-5 review finding). Checked at two instants half a year
    apart so a DST-bearing zone that merely touches offset zero does
    not pass."""
    import datetime as _dt

    if tz in ("UTC", "Etc/UTC", "GMT", "Z"):
        return True
    s = tz.lstrip("+-")
    if tz and tz[0] in "+-" and s.replace(":", "").replace("0", "") == "":
        return True  # '+00:00' / '-0000' style fixed-zero offsets
    try:
        from zoneinfo import ZoneInfo

        z = ZoneInfo(tz)
        jan = _dt.datetime(2024, 1, 15, tzinfo=z).utcoffset()
        jul = _dt.datetime(2024, 7, 15, tzinfo=z).utcoffset()
        return jan == jul == _dt.timedelta(0)
    except Exception:
        return False


def _watermarked(df: DataFrame, time_col: str, watermark: str):
    """Apply an event-time watermark, tolerating TIMESTAMP_NTZ.

    Spark watermarks require TIMESTAMP (with local timezone), but the
    NANOS-ingested events panel carries TIMESTAMP_NTZ — passing it
    straight to withWatermark raises EVENT_TIME_IS_NOT_ON_TIMESTAMP_
    TYPE. The session timezone is pinned to UTC (session.py), so an
    NTZ -> TIMESTAMP cast is value-faithful; callers cast emitted time
    columns back with the returned flag so batch/stream twins stay
    dtype-identical.

    Returns (df_with_watermark, was_ntz)."""
    was_ntz = dict(df.dtypes).get(time_col) == "timestamp_ntz"
    if was_ntz:
        # the NTZ -> TIMESTAMP cast is value-faithful ONLY under a UTC
        # session timezone; on a user session pinned elsewhere it would
        # silently shift event times and window boundaries, so fail
        # loudly instead (these ops are public API, not session.py-only)
        tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        if not _is_utc_equivalent(tz):
            raise ValueError(
                f"{time_col} is TIMESTAMP_NTZ and the session timezone is "
                f"{tz!r}: casting to the watermark-able TIMESTAMP type "
                "would shift event times. Set spark.sql.session.timeZone "
                "to UTC (functime_spark.session.get_session does) or cast "
                "the event-time column yourself with explicit semantics."
            )
        df = df.withColumn(time_col, F.col(time_col).cast("timestamp"))
    if df.isStreaming:
        df = df.withWatermark(time_col, watermark)
    return df, was_ntz


def _restore_ntz(df: DataFrame, cols: list, was_ntz: bool) -> DataFrame:
    """Cast the named time columns back to TIMESTAMP_NTZ when the
    input's event time was NTZ (see _watermarked)."""
    if not was_ntz:
        return df
    out = df
    for c in cols:
        out = out.withColumn(c, F.col(c).cast("timestamp_ntz"))
    return out


def stream_resample(
    df: DataFrame,
    freq: str,
    agg: str = "sum",
    watermark: str = "1 day",
) -> DataFrame:
    """Watermarked time-bucket aggregation (streaming `resample`).

    Batch twin: operators/preprocessing.resample (ref
    preprocessing.py:94-133) without the impute step — a stream can't
    impute gaps it hasn't seen yet. Output: (entity, bucket_start, y).
    """
    p = panel_cols(df)
    agg_fn = {"sum": F.sum, "mean": F.avg, "median": F.median,
              "min": F.min, "max": F.max, "count": F.count}[agg]
    src, was_ntz = _watermarked(df, p.time, watermark)
    out = (
        src.groupBy(p.entity, F.window(p.time, _duration(freq)).alias("__w"))
        .agg(agg_fn(p.target).alias(p.target))
        .select(p.entity, F.col("__w.start").alias(p.time), p.target)
    )
    return _restore_ntz(out, [p.time], was_ntz)


def stream_rolling_stats(
    df: DataFrame,
    window: str,
    slide: str | None = None,
    watermark: str = "1 day",
) -> DataFrame:
    """Sliding-window panel stats (streaming `roll`, ref
    preprocessing.py:256-336): mean/min/max/sum/std per (entity,
    window). Overlapping windows via F.window(slide) — each row lands
    in window/slide buckets, aggregated incrementally in the state
    store (no per-row window-function shuffle, streaming-legal).
    """
    p = panel_cols(df)
    src, was_ntz = _watermarked(df, p.time, watermark)
    win = F.window(p.time, _duration(window), _duration(slide or window))
    out = (
        src.groupBy(p.entity, win.alias("__w"))
        .agg(
            F.avg(p.target).alias("mean"),
            F.min(p.target).alias("min"),
            F.max(p.target).alias("max"),
            F.sum(p.target).alias("sum"),
            F.stddev_samp(p.target).alias("std"),
            F.count(p.target).alias("n"),
        )
        .select(
            p.entity,
            F.col("__w.start").alias("window_start"),
            F.col("__w.end").alias("window_end"),
            "mean", "min", "max", "sum", "std", "n",
        )
    )
    return _restore_ntz(out, ["window_start", "window_end"], was_ntz)


def stream_cusum(
    df: DataFrame,
    threshold: float = 5.0,
    drift: float = 0.0,
    warmup: int = 30,
    timeout: str = "NoTimeout",
) -> DataFrame:
    """Stateful streaming CUSUM changepoints (streaming twin of
    functions/features_udf.cusum; ref cusum.rs:32-93).

    Per-entity state = (n, mean, M2, s_pos, s_neg) carried across
    micro-batches in the Spark state store via applyInPandasWithState
    — Welford moments during warmup, tabular CUSUM with reset after.
    Emits one row per detected changepoint (append mode).
    """
    import pandas as pd

    p = panel_cols(df)
    entity_dtype = dict(df.dtypes)[p.entity]
    time_dtype = dict(df.dtypes)[p.time]
    out_schema = (
        f"{p.entity} {entity_dtype}, {p.time} {time_dtype}, "
        "direction string, stat double"
    )
    state_schema = "n long, mean double, m2 double, spos double, sneg double"

    def update(key, pdfs, state):
        if state.exists:
            n, mean, m2, spos, sneg = state.get
        else:
            n, mean, m2, spos, sneg = 0, 0.0, 0.0, 0.0, 0.0
        rows = []
        for pdf in pdfs:
            pdf = pdf.sort_values(p.time)
            for t, x in zip(pdf[p.time], pdf[p.target]):
                x = float(x)
                n += 1
                d = x - mean
                mean += d / n
                m2 += d * (x - mean)
                if n <= warmup or m2 <= 0:
                    continue
                sd = (m2 / (n - 1)) ** 0.5
                z = (x - mean) / sd
                spos = max(0.0, spos + z - drift)
                sneg = min(0.0, sneg + z + drift)
                if spos > threshold:
                    rows.append((key[0], t, "up", spos))
                    spos, sneg = 0.0, 0.0
                elif sneg < -threshold:
                    rows.append((key[0], t, "down", sneg))
                    spos, sneg = 0.0, 0.0
        state.update((n, mean, m2, spos, sneg))
        if rows:
            yield pd.DataFrame(
                rows, columns=[p.entity, p.time, "direction", "stat"]
            )

    return df.groupBy(p.entity).applyInPandasWithState(
        update, out_schema, state_schema, "append", timeout
    )


def stream_exact_dedup(
    df: DataFrame,
    key_cols: list,
    time_col: str,
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming exact deduplication: keep the first record per key
    within the watermark horizon (`dropDuplicatesWithinWatermark` when
    available, else watermarked `dropDuplicates`).

    Batch/stream symmetric: on a batch frame the watermark is a no-op
    and this is plain dropDuplicates. At scale the dedup state store
    shards on the hash of `key_cols` across executors, and the
    watermark bounds state size — without it a 100 TB stream's dedup
    state grows unboundedly.
    """
    wm, was_ntz = _watermarked(df, time_col, watermark)
    if not df.isStreaming:
        # _watermarked only applies the watermark on streams; batch
        # dropDuplicates needs none (and keeps the input dtypes)
        wm = df
        was_ntz = False
    if df.isStreaming and hasattr(wm, "dropDuplicatesWithinWatermark"):
        out = wm.dropDuplicatesWithinWatermark(key_cols)
    else:
        out = wm.dropDuplicates(key_cols)
    return _restore_ntz(out, [time_col], was_ntz)


def sessionize(
    df: DataFrame,
    gap: str = "30m",
    watermark: str = "1 day",
) -> DataFrame:
    """Gap-based sessionization: consecutive events of an entity less
    than `gap` apart merge into one session. Output: (entity,
    session_start, last_event, n_events, y-sum).

    Batch/stream symmetric via `F.session_window` — in batch it is one
    hash aggregate (merging variable-length windows per group); in a
    stream the session state lives in the state store, closed by the
    watermark. Events exactly `gap` apart still MERGE (session_window
    joins adjacent inclusive ranges), so the equivalent gaps-and-
    islands rule is `new session iff diff > gap` — verified against
    the DuckDB oracle replay.
    """
    p = panel_cols(df)
    src, was_ntz = _watermarked(df, p.time, watermark)
    win = F.session_window(p.time, _duration(gap))
    out = (
        src.groupBy(p.entity, win.alias("__w"))
        .agg(
            F.count("*").alias("n_events"),
            F.max(p.time).alias("last_event"),
            F.sum(p.target).alias(p.target),
        )
        .select(
            p.entity,
            F.col("__w.start").alias("session_start"),
            "last_event",
            "n_events",
            p.target,
        )
    )
    return _restore_ntz(out, ["session_start", "last_event"], was_ntz)


def stream_lm_score(
    docs: DataFrame,
    lm: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    lam: float = 0.7,
    max_model_rows: int = 20_000_000,
) -> DataFrame:
    """Streaming twin of pipeline.lm.ngram_lm_score: score documents
    against a batch-fitted bigram LM with NO streaming aggregation —
    each row is self-contained (its tokens live in its own text), so
    the count tables ride to executors as a broadcast artifact (the
    same way production pipelines ship a KenLM binary) and scoring is
    one stateless Arrow pass. Append-mode safe, no watermark needed.

    ``lm`` is pipeline.lm.fit_ngram_lm output; its count frames are
    collected once here — bounded by the MODEL (the min_count-pruned
    vocab + bigram tables), not the corpus, exactly like shipping a
    pruned KenLM binary. On a big corpus fit with ``min_count=1`` the
    raw bigram table can approach corpus scale, so the collect is
    guarded: more than ``max_model_rows`` uni+bi rows raises with a
    pointer at fit_ngram_lm's ``min_count`` pruning instead of
    silently OOMing the driver."""
    import math

    import pandas as pd

    spark = docs.sparkSession
    # both frames are localCheckpoint-ed by fit_ngram_lm, so the two
    # counts are cheap metadata-scale jobs, not corpus re-reads
    model_rows = lm["uni"].count() + lm["bi"].count()
    if model_rows > max_model_rows:
        raise ValueError(
            f"LM count tables hold {model_rows} rows (> max_model_rows="
            f"{max_model_rows}); the driver-side model dict would OOM. "
            "Refit with fit_ngram_lm(..., min_count=2) (or higher) to "
            "prune singleton n-grams, or raise max_model_rows if the "
            "driver genuinely has the memory."
        )
    uni = {r["w"]: r["c"] for r in lm["uni"].collect()}
    bi = {(r["w1"], r["w2"]): r["c"] for r in lm["bi"].collect()}
    n_tok, vocab = lm["n_tokens"], lm["vocab"]
    bc = broadcast_value(spark, (uni, bi))
    denom = n_tok + alpha * vocab
    floor = alpha / denom
    one_m_lam = 1 - lam

    id_field = docs.select(id_col).schema.fields[0]
    out_schema = (
        f"{id_field.name} {id_field.dataType.simpleString()}, "
        "n_tokens bigint, cross_entropy double, perplexity double"
    )

    def score(batches):
        u, b = bc.value
        for pdf in batches:
            ids, ns, ces = [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                ws = [w for w in str(text).split() if w]
                lps = []
                prev = None
                for w in ws:
                    cu = u.get(w)
                    pu = (cu + alpha) / denom if cu is not None else floor
                    if prev is None:
                        lps.append(math.log(pu))
                    else:
                        c1 = u.get(prev)
                        pb = b.get((prev, w), 0) / c1 if c1 else 0.0
                        lps.append(math.log(lam * pb + one_m_lam * pu))
                    prev = w
                ce = -sum(lps) / len(lps) if lps else 0.0
                ids.append(did)
                ns.append(len(ws))
                ces.append(ce)
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "n_tokens": ns,
                    "cross_entropy": ces,
                    "perplexity": [math.exp(c) for c in ces],
                }
            )

    return docs.select(id_col, text_col).mapInPandas(score, schema=out_schema)


def stream_decontaminate(
    docs: DataFrame,
    bench_grams,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_overlap: float = 0.0,
) -> DataFrame:
    """Streaming twin of pipeline.decontaminate.ngram_overlap: the
    benchmark gram set is collected once (benchmarks are MB-scale) and
    broadcast; each document's overlap signals compute row-locally in
    one stateless Arrow pass — append-safe, no watermark, no
    aggregation state.

    ``bench_grams``: pipeline.decontaminate.benchmark_ngrams output
    (or any 1-column gram DataFrame)."""
    import pandas as pd

    spark = docs.sparkSession
    grams = {r[0] for r in bench_grams.collect()}
    bc = broadcast_value(spark, grams)

    id_field = docs.select(id_col).schema.fields[0]
    out_schema = (
        f"{id_field.name} {id_field.dataType.simpleString()}, "
        "n_grams bigint, n_contaminated bigint, contamination double, "
        "is_contaminated int"
    )

    def score(batches):
        bg = bc.value
        for pdf in batches:
            ids, tot, hit, frac, flag = [], [], [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                ws = [w for w in str(text).split() if w]
                gs = (
                    {" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)}
                    if len(ws) >= n
                    else set()
                )
                h = sum(1 for g in gs if g in bg)
                f = h / len(gs) if gs else 0.0
                ids.append(did)
                tot.append(len(gs))
                hit.append(h)
                frac.append(f)
                flag.append(int(f > max_overlap))
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "n_grams": tot,
                    "n_contaminated": hit,
                    "contamination": frac,
                    "is_contaminated": flag,
                }
            )

    return docs.select(id_col, text_col).mapInPandas(score, schema=out_schema)


def stream_anomaly(
    df: DataFrame,
    window: int = 24,
    threshold: float = 3.0,
    min_obs: int = 5,
    timeout: str = "NoTimeout",
) -> DataFrame:
    """Stateful streaming twin of operators.evaluation.detect_anomalies:
    each point is z-scored against the trailing `window` values of its
    entity, point excluded from its own frame. Per-entity state is the
    bounded ring buffer of the last `window` values — O(window) per
    key in the state store, shard-by-entity, watermark-free (the
    buffer, not time, bounds state).

    Emits every scored row (append mode); warmup/zero-variance rows
    score NaN-free NULL like the batch op. Ordering inside a
    micro-batch is by event time; cross-batch order is arrival order,
    the streaming contract.
    """
    import pandas as pd

    p = panel_cols(df)
    entity_dtype = dict(df.dtypes)[p.entity]
    time_dtype = dict(df.dtypes)[p.time]
    out_schema = (
        f"{p.entity} {entity_dtype}, {p.time} {time_dtype}, "
        f"{p.target} double, zscore double, is_anomaly boolean"
    )
    state_schema = "buf array<double>"

    def update(key, pdfs, state):
        buf = list(state.get[0]) if state.exists else []
        rows = []
        # a group's micro-batch may arrive as SEVERAL pandas chunks;
        # sorting each chunk independently would score rows out of
        # time order across chunk boundaries — materialize the whole
        # batch and sort ONCE (per-group batch state is window-bounded)
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            whole = pd.concat(chunks).sort_values(p.time)
            for t, x in zip(whole[p.time], whole[p.target]):
                x = float(x)
                z = None
                if len(buf) >= min_obs:
                    n = len(buf)
                    mean = sum(buf) / n
                    var = sum((v - mean) ** 2 for v in buf) / (n - 1)
                    if var > 0:
                        z = (x - mean) / var**0.5
                rows.append(
                    (
                        key[0],
                        t,
                        x,
                        z,
                        bool(z is not None and abs(z) > threshold),
                    )
                )
                buf.append(x)
                if len(buf) > window:
                    buf.pop(0)
        state.update((buf,))
        if rows:
            yield pd.DataFrame(
                rows,
                columns=[p.entity, p.time, p.target, "zscore", "is_anomaly"],
            )

    return df.groupBy(p.entity).applyInPandasWithState(
        update, out_schema, state_schema, "append", timeout
    )


def _bucket_state(
    banded: DataFrame,
    keys: list,
    cols: list,
    max_bucket_size: int,
    match,
    marker,
    out_schema: str,
    state_schema: str,
) -> DataFrame:
    """The one streaming bucket-state kernel of the near-dup ops. Per
    bucket key the state holds the members' ``cols`` (id first) as
    parallel lists. Each micro-batch's arrivals, in id order, are
    matched against the earlier members and then join them, up to
    ``max_bucket_size``: the arrival-order prefix, because a stream
    cannot retro-drop pairs it already emitted, so it cannot drop an
    oversize bucket whole as the batch path (_bucket_pairs) does. An
    arrival at a full bucket emits ``marker(tag, id)`` — an OVERFLOW
    MARKER row — instead of vanishing silently. ``match(tag, member,
    arrival)`` returns an output row or None; ``tag`` is the bucket's
    first key. State shards across executors on the bucket key, the
    batch path's partitioning, and never expires (near-dups have no
    watermarkable horizon)."""
    import pandas as pd

    names = [f.split()[0] for f in out_schema.split(",")]

    def py(v):
        # numpy scalars/arrays -> Python values the state store takes
        return v.tolist() if hasattr(v, "tolist") else v

    def update(key, pdfs, state):
        tag = int(key[0])
        members = (
            [[py(v) for v in c] for c in state.get]
            if state.exists
            else [[] for _ in cols]
        )
        rows = []
        chunks = [p for p in pdfs if len(p)]
        if chunks:
            whole = pd.concat(chunks).sort_values(cols[0])
            for arrival in zip(*(whole[c] for c in cols)):
                arrival = [py(v) for v in arrival]
                if len(members[0]) >= max_bucket_size:
                    rows.append(marker(tag, arrival[0]))
                    continue
                for member in zip(*members):
                    row = match(tag, member, arrival)
                    if row is not None:
                        rows.append(row)
                for m, v in zip(members, arrival):
                    m.append(v)
        state.update(tuple(members))
        if rows:
            yield pd.DataFrame(rows, columns=names)

    return banded.groupBy(*keys).applyInPandasWithState(
        update, out_schema, state_schema, "append", "NoTimeout"
    )


def stream_minhash_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_bucket_size: int = 512,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Streaming MinHash near-dup detection: as documents arrive, each
    is checked against every earlier document sharing an LSH band
    bucket, emitting (id_a, id_b, est_jaccard, band) pairs (id_a =
    the earlier arrival). Consumers dedup pairs surfacing via several
    bands with a downstream dropDuplicates([id_a, id_b]).

    Shape: the signature + banding projection is STATELESS (the exact
    band payload of the batch op, via pipeline.dedup.band_rows — one
    definition, no drift); the only state is per-(band, band_hash) —
    the bucket's (id, signature) list (_bucket_state). Oversize
    buckets: a batch frame pairs through _bucket_pairs and DROPS
    buckets larger than ``max_bucket_size`` whole, exactly like
    minhash_dedup (so its pair set is oracle-identical at any scale);
    the streaming path keeps the arrival-order prefix instead — the
    one documented divergence. A streaming arrival landing in an
    already-FULL bucket is not compared silently: it emits an
    OVERFLOW MARKER row (id_a == id_b == its id, est_jaccard = -1.0)
    so consumers can count dropped comparisons per hot bucket (filter
    ``est_jaccard >= 0`` for the pair stream).

    For unbounded crawls prefer the persisted-store batch twin
    (pipeline.dedup.minhash_dedup_incremental): streaming dedup state
    never expires here (near-dups have no watermarkable horizon).
    """
    from functime_spark.pipeline.dedup import (
        _bucket_pairs,
        _slot_agreement,
        band_rows,
        minhash_signatures,
    )

    sigs = minhash_signatures(docs, text_col, id_col, n_hashes, shingle_n, hash_fn)
    banded = band_rows(sigs, id_col, bands, hash_fn, with_sig=True)
    keys = ["band", "band_hash"]

    if docs.isStreaming:

        def match(band, member, arrival):
            (pid, psig), (did, sig) = member, arrival
            est = sum(a == b for a, b in zip(psig, sig)) / float(n_hashes)
            return (pid, did, est, band) if est >= threshold else None

        return _bucket_state(
            banded, keys, [id_col, "sig"], max_bucket_size, match,
            lambda band, did: (did, did, -1.0, band),
            "id_a bigint, id_b bigint, est_jaccard double, band int",
            "ids array<bigint>, sigs array<array<bigint>>",
        )

    return (
        _bucket_pairs(banded, keys, max_bucket_size, [id_col, "sig", "band"])
        .select(
            F.col(f"a.{id_col}").cast("long").alias("id_a"),
            F.col(f"b.{id_col}").cast("long").alias("id_b"),
            _slot_agreement().alias("est_jaccard"),
            F.col("a.band").alias("band"),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )


def stream_dhash_dedup(
    media: DataFrame,
    decoder="ppm",
    hash_size: int = 8,
    max_hamming: int = 6,
    band_bits: int = 16,
    max_bucket_size: int = 512,
) -> DataFrame:
    """Streaming perceptual IMAGE near-dup detection: the
    stream_minhash_dedup recipe pointed at pixels — as media rows
    arrive, each is dHash-fingerprinted (multimodal.dhash_media, the
    same stateless mapInPandas the batch op uses) and checked against
    every earlier image sharing a 16-bit hash band, emitting
    (id_a, id_b, hamming, band) pairs (id_a = the earlier arrival,
    hamming <= max_hamming). Consumers dedup multi-band surfacing with
    dropDuplicates([id_a, id_b]).

    Shape: signature + banding are STATELESS projections; the only
    state is per-(band, band_val) — the bucket's (id, phash) list,
    capped at ``max_bucket_size`` (_bucket_state; a batch frame pairs
    through _bucket_pairs and drops oversize buckets whole, matching
    dhash_near_dups so its deduped pair set is oracle-identical; the
    streaming path keeps the arrival-order prefix — the same
    documented divergence as stream_minhash_dedup). An arrival landing
    in an already-full bucket emits an OVERFLOW MARKER row
    (id_a == id_b == its id, hamming = -1) instead of vanishing
    silently — consumers filter ``hamming >= 0`` for the pair stream
    and count markers to detect hot bands whose comparisons were
    dropped. State is two longs per member. For unbounded crawls the
    batch banded join over a persisted phash store is the
    horizon-free twin (dhash_dedup_incremental; near-dups never
    expire, so no watermark applies)."""
    from functime_spark.pipeline.dedup import _bucket_pairs, _hamming, bit_band_rows
    from functime_spark.pipeline.multimodal import dhash_media

    sigs = dhash_media(media, decoder=decoder, hash_size=hash_size)
    banded = bit_band_rows(sigs, "phash", band_bits)
    keys = ["band", "band_val"]

    if media.isStreaming:

        def match(band, member, arrival):
            (pid, pph), (mid, ph) = member, arrival
            ham = bin((pph ^ ph) & ((1 << 64) - 1)).count("1")
            return (pid, mid, ham, band) if ham <= max_hamming else None

        return _bucket_state(
            banded, keys, ["media_id", "phash"], max_bucket_size, match,
            lambda band, mid: (mid, mid, -1, band),
            "id_a bigint, id_b bigint, hamming int, band int",
            "ids array<bigint>, phashes array<bigint>",
        )

    return (
        _bucket_pairs(banded, keys, max_bucket_size, ["media_id", "phash", "band"])
        .select(
            F.col("a.media_id").alias("id_a"),
            F.col("b.media_id").alias("id_b"),
            _hamming("phash").alias("hamming"),
            F.col("a.band").alias("band"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def stream_audio_dedup(
    media: DataFrame,
    decoder="wav",
    max_bucket_size: int = 1024,
    **kernel_kwargs,
) -> DataFrame:
    """Streaming AUDIO near-dup detection: the stream_dhash recipe
    pointed at constellation fingerprints — as clips arrive, each is
    landmark-hashed (audio.audio_fingerprints, the same stateless
    mapInPandas the batch op uses) and checked against every earlier
    clip sharing a landmark, emitting one (id_a, id_b, fp) MATCH EVENT
    per shared hash (id_a = the earlier arrival). Consumers aggregate
    ``groupBy(id_a, id_b).count() >= min_matches`` for the pair
    verdict — the count equals audio_near_dups' n_matches when arrival
    order == id order and no bucket overflows.

    Shape: fingerprinting is a STATELESS projection; the only state
    is per-fp — the bucket's id list, capped at ``max_bucket_size``
    (_bucket_state; a batch frame pairs through _bucket_pairs and
    drops oversize buckets whole, so its aggregated pair counts are
    oracle-identical; the streaming path keeps the arrival-order
    prefix — the same documented divergence as stream_minhash_dedup).
    An arrival landing in a full bucket emits an OVERFLOW MARKER row
    (id_a == id_b == its id, fp = -1) instead of vanishing silently.
    State is one long per member. For unbounded crawls the batch
    join over a persisted fingerprint store is the horizon-free twin
    (audio.audio_dedup_incremental; near-dups never expire, so no
    watermark applies)."""
    from functime_spark.pipeline.audio import audio_fingerprints
    from functime_spark.pipeline.dedup import _bucket_pairs

    fps = audio_fingerprints(media, decoder=decoder, **kernel_kwargs)

    if media.isStreaming:
        return _bucket_state(
            fps, ["fp"], ["media_id"], max_bucket_size,
            lambda fp, member, arrival: (member[0], arrival[0], fp),
            lambda fp, mid: (mid, mid, -1),
            "id_a bigint, id_b bigint, fp bigint",
            "ids array<bigint>",
        )

    # a clip repeating a landmark pairs with itself here, as it does on
    # the stream: one match event per pair of bucket entries
    return _bucket_pairs(fps, ["fp"], max_bucket_size, ["media_id", "fp"]).select(
        F.col("a.media_id").alias("id_a"),
        F.col("b.media_id").alias("id_b"),
        F.col("a.fp").alias("fp"),
    )
