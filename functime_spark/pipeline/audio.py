"""Audio feature extraction over binary payload columns — numpy-only
spectral analysis (framed Hann/rFFT) + MFCCs, run as an Arrow-batched
``mapInPandas`` operator over the multimodal decoder seam.

The per-clip features are the standard content-analysis set a training
-data pipeline filters/clusters on: duration, RMS level, zero-crossing
rate, spectral centroid / bandwidth / rolloff / flatness, and `n_mfcc`
mel-frequency cepstral coefficients (mel filterbank -> log -> DCT-II),
all deterministic numpy so tests pin them against closed-form signals
(a pure tone's centroid is its frequency; white noise's flatness ~ 1).

At scale this is one narrow mapInPandas pass: payloads decode inside
the Arrow batch, nothing shuffles, and the output is one row per clip
— the same shape as extract_features_media (multimodal.py).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    LongType,
    StructField,
    StructType,
)


def _to_mono_float(arr: np.ndarray, channels: int) -> np.ndarray:
    """Interleaved PCM -> mono float64 in [-1, 1]."""
    x = np.asarray(arr)
    if x.dtype == np.uint8:  # 8-bit WAV is unsigned
        x = (x.astype(np.float64) - 128.0) / 128.0
    elif x.dtype.kind == "i":
        x = x.astype(np.float64) / float(1 << (8 * x.dtype.itemsize - 1))
    else:
        x = x.astype(np.float64)
    if channels > 1:
        n = len(x) // channels * channels
        x = x[:n].reshape(-1, channels).mean(axis=1)
    return x


def _mel(f):
    return 2595.0 * np.log10(1.0 + np.asarray(f, dtype=np.float64) / 700.0)


def _mel_inv(m):
    return 700.0 * (10.0 ** (np.asarray(m, dtype=np.float64) / 2595.0) - 1.0)


def _mel_filterbank(n_mels: int, n_fft: int, rate: int) -> np.ndarray:
    """(n_mels, n_fft//2 + 1) triangular filters, 0 .. rate/2."""
    pts = _mel_inv(np.linspace(_mel(0.0), _mel(rate / 2.0), n_mels + 2))
    bins = np.floor((n_fft + 1) * pts / rate).astype(int)
    fb = np.zeros((n_mels, n_fft // 2 + 1))
    for i in range(n_mels):
        lo, mid, hi = bins[i], bins[i + 1], bins[i + 2]
        for k in range(lo, mid):
            if mid > lo:
                fb[i, k] = (k - lo) / (mid - lo)
        for k in range(mid, hi):
            if hi > mid:
                fb[i, k] = (hi - k) / (hi - mid)
    return fb


def audio_features_from_signal(
    arr: np.ndarray,
    rate: int,
    channels: int = 1,
    n_mfcc: int = 13,
    n_mels: int = 26,
    n_fft: int = 512,
    hop: int = 256,
) -> dict:
    """The per-clip feature dict from a raw PCM array — the numpy
    ground-truth kernel the Spark operator batches over."""
    x = _to_mono_float(arr, channels)
    n = len(x)
    if n == 0:
        raise ValueError("empty audio signal")
    duration = n / float(rate)
    rms = float(np.sqrt(np.mean(x * x)))
    zcr = float(np.mean(np.abs(np.diff(np.signbit(x).astype(np.int8))))) \
        if n > 1 else 0.0

    if n < n_fft:  # zero-pad one frame
        x = np.pad(x, (0, n_fft - n))
        n = n_fft
    win = np.hanning(n_fft)
    starts = range(0, n - n_fft + 1, hop)
    spec = np.stack([
        np.abs(np.fft.rfft(x[s:s + n_fft] * win)) for s in starts
    ])  # (frames, n_fft//2+1)
    freqs = np.fft.rfftfreq(n_fft, d=1.0 / rate)
    power = spec**2
    tot = power.sum(axis=1) + 1e-12

    centroid = float(np.mean((power * freqs).sum(axis=1) / tot))
    bw = float(np.mean(np.sqrt(
        (power * (freqs - ((power * freqs).sum(axis=1) / tot)[:, None]) ** 2)
        .sum(axis=1) / tot
    )))
    cum = np.cumsum(power, axis=1)
    roll_idx = (cum >= 0.85 * cum[:, -1:]).argmax(axis=1)
    rolloff = float(np.mean(freqs[roll_idx]))
    flat = float(np.mean(
        np.exp(np.mean(np.log(power + 1e-12), axis=1))
        / (np.mean(power, axis=1) + 1e-12)
    ))

    fb = _mel_filterbank(n_mels, n_fft, rate)
    mel_e = np.log(power @ fb.T + 1e-10)  # (frames, n_mels)
    # orthonormal DCT-II over the mel axis
    k = np.arange(n_mels)
    dct = np.cos(np.pi * np.outer(np.arange(n_mfcc), 2 * k + 1) / (2 * n_mels))
    dct *= np.sqrt(2.0 / n_mels)
    dct[0] /= np.sqrt(2.0)
    mfcc = (mel_e @ dct.T).mean(axis=0)

    return {
        "duration_s": duration,
        "rms": rms,
        "zero_crossing_rate": zcr,
        "spectral_centroid_hz": centroid,
        "spectral_bandwidth_hz": bw,
        "spectral_rolloff_hz": rolloff,
        "spectral_flatness": flat,
        "mfcc": [float(v) for v in mfcc],
    }


def extract_audio_features(
    media: DataFrame,
    decoder="wav",
    n_mfcc: int = 13,
    n_mels: int = 26,
    n_fft: int = 512,
    hop: int = 256,
) -> DataFrame:
    """One row of spectral features + MFCCs per clip, decoded through
    the multimodal decoder seam (default: the stdlib WAV codec; any
    registered/callable decoder returning {"array", "rate",
    "channels"} rides the same path). Narrow batch inputs are
    rebalanced ahead of the kernel (spread_for_cpu — only a narrow
    input moves; the MFCC pass is the most expensive per-clip kernel in the
    audio tier, so a one-partition scan must not serialize it)."""
    from functime_spark.pipeline._util import spread_for_cpu
    from functime_spark.pipeline.multimodal import _resolve_decoder

    fn = _resolve_decoder(decoder)
    if fn is None:
        raise ValueError("extract_audio_features needs a real decoder")
    media = spread_for_cpu(media)

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:  # keep the schema contract on empty batches
                continue
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                d = fn(bytes(payload))
                f = audio_features_from_signal(
                    d["array"], int(d["rate"]),
                    channels=int(d.get("channels", 1)),
                    n_mfcc=n_mfcc, n_mels=n_mels, n_fft=n_fft, hop=hop,
                )
                f["media_id"] = mid
                rows.append(f)
            yield pd.DataFrame(rows)

    schema = StructType([
        StructField("duration_s", DoubleType()),
        StructField("rms", DoubleType()),
        StructField("zero_crossing_rate", DoubleType()),
        StructField("spectral_centroid_hz", DoubleType()),
        StructField("spectral_bandwidth_hz", DoubleType()),
        StructField("spectral_rolloff_hz", DoubleType()),
        StructField("spectral_flatness", DoubleType()),
        StructField("mfcc", ArrayType(FloatType())),
        StructField("media_id", LongType()),
    ])
    out = media.mapInPandas(run, schema=schema)
    return out.select(
        "media_id", "duration_s", "rms", "zero_crossing_rate",
        "spectral_centroid_hz", "spectral_bandwidth_hz",
        "spectral_rolloff_hz", "spectral_flatness", "mfcc",
    )


# ---------------------------------------------------------------------------
# Spectral-peak constellation fingerprinting (r11) — Shazam-style audio
# near-duplicate detection (Wang 2003, "An Industrial-Strength Audio
# Search Algorithm"), the audio analog of the image tier's dHash +
# banded pairs (multimodal.py): re-encoded / re-leveled / resampled
# copies of a clip keep the same peak constellation, so their
# (f1, f2, dt) landmark hashes collide.
#
# Rate invariance by construction: frames are cut in SECONDS
# (win_s/hop_s), so n_fft = round(rate * win_s) and every peak
# quantizes to an absolute-frequency bin qbin = round(f_hz * win_s) —
# a 44.1 kHz original and its 16 kHz resample land on the SAME bins
# (verified by the resample-invariance pytest).
# ---------------------------------------------------------------------------


def _fp_bin_tables(
    rate: int, n_fft: int, win_s: float, max_freq: float, n_subbands: int
):
    """Cached per-(rate, params) constellation tables: Hann window,
    absolute-frequency qbins, kept-bin mask, per-subband bin indices.
    A crawl batch re-decodes thousands of same-rate clips; these
    tables are identical for all of them."""
    key = (rate, n_fft, round(win_s, 9), round(max_freq, 6), n_subbands)
    hit = _FP_TABLE_CACHE.get(key)
    if hit is not None:
        return hit
    win = np.hanning(n_fft)
    qmax = int(round(max_freq * win_s))
    ks = np.arange(n_fft // 2 + 1)
    qb = np.rint(ks * (float(rate) / n_fft) * win_s).astype(np.int64)
    keep = (qb >= 1) & (qb < qmax)
    band_of = qb * n_subbands // qmax
    band_idx = tuple(
        np.flatnonzero(keep & (band_of == b)) for b in range(n_subbands)
    )
    val = (win, qb, keep, band_idx)
    if len(_FP_TABLE_CACHE) < 64:  # bounded — a worker sees few rates
        _FP_TABLE_CACHE[key] = val
    return val


_FP_TABLE_CACHE: dict = {}


def audio_fingerprints_from_signal(
    arr: np.ndarray,
    rate: int,
    channels: int = 1,
    win_s: float = 0.064,
    hop_s: float = 0.032,
    max_freq: float = 4000.0,
    n_subbands: int = 8,
    fanout: int = 3,
    max_dt: int = 3,
    with_time: bool = False,
) -> list:
    """Distinct landmark hashes of one clip (``with_time=True``:
    distinct (anchor_frame, hash) pairs, the offset-voting input) —
    the numpy ground-truth kernel the Spark operator batches over.

    Peaks: per frame (Hann + rFFT), the band below `max_freq` splits
    into `n_subbands` sub-bands; each sub-band's magnitude argmax is a
    candidate, kept only when it beats the frame's mean magnitude (the
    Wang-style above-average criterion — leakage floors drop out).
    Landmarks: each peak anchors pairs with the first `fanout` peaks of
    each of the next `max_dt` frames; hash packs
    (f1_qbin << 20) | (f2_qbin << 8) | dt into one long."""
    x = _to_mono_float(arr, channels)
    if len(x) == 0:
        return []
    n_fft = int(round(rate * win_s))
    hop = max(1, int(round(rate * hop_s)))
    if n_fft < 8:
        raise ValueError(f"win_s={win_s} too short for rate={rate}")
    if len(x) < n_fft:
        x = np.pad(x, (0, n_fft - len(x)))
    win, qb, keep, band_idx = _fp_bin_tables(
        rate, n_fft, win_s, max_freq, n_subbands
    )
    # all frames in ONE batched rFFT (the per-clip hot path at crawl
    # scale): stride-view framing, window broadcast, axis-1 transform
    n_frames = (len(x) - n_fft) // hop + 1
    frames = np.lib.stride_tricks.as_strided(
        x,
        shape=(n_frames, n_fft),
        strides=(x.strides[0] * hop, x.strides[0]),
    )
    mags = np.abs(np.fft.rfft(frames * win, axis=1))
    kept = mags[:, keep]
    frames_peaks: list = [[] for _ in range(n_frames)]
    if kept.shape[1] > 0:
        thr = kept.mean(axis=1)
        for idx in band_idx:
            if len(idx) == 0:
                continue
            sub = mags[:, idx]
            am = np.argmax(sub, axis=1)  # first-max, like the scalar loop
            vals = sub[np.arange(n_frames), am]
            qpk = qb[idx][am]
            for t in np.flatnonzero(vals > thr):
                frames_peaks[t].append(int(qpk[t]))
        frames_peaks = [sorted(p) for p in frames_peaks]
    hashes = set()
    for t, anchors in enumerate(frames_peaks):
        for f1 in anchors:
            taken = 0
            for dt in range(1, max_dt + 1):
                if t + dt >= len(frames_peaks) or taken >= fanout:
                    break
                for f2 in frames_peaks[t + dt]:
                    if taken >= fanout:
                        break
                    h = (f1 << 20) | (f2 << 8) | dt
                    hashes.add((t, h) if with_time else h)
                    taken += 1
    return sorted(hashes)


def audio_fingerprints(
    media: DataFrame,
    decoder="wav",
    win_s: float = 0.064,
    hop_s: float = 0.032,
    max_freq: float = 4000.0,
    n_subbands: int = 8,
    fanout: int = 3,
    max_dt: int = 3,
    with_time: bool = False,
) -> DataFrame:
    """(media_id, fp) landmark rows (``with_time=True`` adds the
    anchor-frame column ``t`` for offset voting), one mapInPandas pass
    — payloads decode where the bytes are, nothing shuffles at real
    scale. Undecodable or empty clips emit no rows (the curate_media
    drop contract: corrupt files are a fact of scraped corpora).

    r11 optimization: a NARROW batch input (single small file / one
    row group — unsplittable, so one scan partition) is rebalanced
    before the kernel; the spectral pass costs ~200 us/clip and would
    otherwise run on one core of the whole cluster (guide §2.5). At
    crawl scale the input has more partitions than the cluster has
    core slots and the rebalance is a no-op (in-session A/B at sf0.1:
    audio_near_dups 4.00 -> 3.17 s median, identical pair counts)."""
    from functime_spark.pipeline._util import spread_for_cpu
    from functime_spark.pipeline.multimodal import _resolve_decoder

    fn = _resolve_decoder(decoder)
    if fn is None:
        raise ValueError("audio_fingerprints needs a real decoder")
    media = spread_for_cpu(media)

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids, fps, ts = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    d = fn(bytes(payload))
                    hs = audio_fingerprints_from_signal(
                        d["array"], int(d["rate"]),
                        channels=int(d.get("channels", 1)),
                        win_s=win_s, hop_s=hop_s, max_freq=max_freq,
                        n_subbands=n_subbands, fanout=fanout,
                        max_dt=max_dt, with_time=with_time,
                    )
                except Exception:
                    continue
                ids.extend([mid] * len(hs))
                if with_time:
                    ts.extend(t for t, _ in hs)
                    fps.extend(h for _, h in hs)
                else:
                    fps.extend(hs)
            out = {"media_id": ids, "fp": fps}
            if with_time:
                out["t"] = ts
            yield pd.DataFrame(out)

    fields = [
        StructField("media_id", LongType()),
        StructField("fp", LongType()),
    ]
    if with_time:
        fields.append(StructField("t", LongType()))
    return media.mapInPandas(run, schema=StructType(fields))


def audio_near_dups(
    media: DataFrame,
    decoder="wav",
    min_matches: int = 5,
    max_bucket_size: int = 1024,
    offset_coherent: bool = False,
    **kernel_kwargs,
) -> DataFrame:
    """Near-duplicate AUDIO pairs: constellation fingerprints ->
    hash-bucket self-join -> pairs sharing >= `min_matches` landmark
    hashes. Returns (id_a, id_b, n_matches).

    ``offset_coherent=True`` is the full Wang 2003 decision rule: each
    shared landmark votes at the anchor-frame offset t_a - t_b, and a
    pair counts only the votes of its BEST offset (score DESC, offset
    ASC on ties) — returns (id_a, id_b, offset, n_matches). Raw
    shared-hash counting accepts coincidental collisions between
    unrelated clips that happen to share spectral furniture; aligned
    votes don't, because unrelated matches scatter across offsets.
    Trimmed/leading-silence copies surface with their shift in the
    ``offset`` column (frames of hop_s each).

    Scale shape (the dhash_near_dups discipline): fingerprinting is
    row-local; the ONLY shuffle is the bucket-pairs stage on the 8-byte
    fp key, and buckets past `max_bucket_size` drop first (_cap_buckets
    — a landmark shared by the whole corpus is silence/boilerplate, not
    evidence); the match count is one hash aggregate on (id_a, id_b
    [, offset]); the coherent mode adds a second TINY aggregate on
    (id_a, id_b) — an associative struct-MAX argmax whose map-side
    partials shrink the extra shuffle to one row per pair per
    partition. Candidate pairs track shared-landmark counts, never
    corpus**2."""
    from functime_spark.pipeline.dedup import _best_offset, _bucket_pairs

    # no lineage cut: _bucket_pairs consumes the fingerprint pass
    # exactly once
    fps = audio_fingerprints(
        media, decoder=decoder, with_time=offset_coherent,
        **kernel_kwargs,
    )
    # Offset mode's items carry the anchor frame, and the a.id < b.id
    # filter drops same-clip pairs (one clip holds many (t, fp) rows
    # per hash).
    item_cols = ["media_id", "t"] if offset_coherent else ["media_id"]
    joined = _bucket_pairs(fps, ["fp"], max_bucket_size, item_cols).filter(
        F.col("a.media_id") < F.col("b.media_id")
    )
    if not offset_coherent:
        return (
            joined.groupBy(
                F.col("a.media_id").alias("id_a"),
                F.col("b.media_id").alias("id_b"),
            )
            .agg(F.count(F.lit(1)).alias("n_matches"))
            .filter(F.col("n_matches") >= min_matches)
        )
    votes = joined.groupBy(
        F.col("a.media_id").alias("id_a"),
        F.col("b.media_id").alias("id_b"),
        (F.col("a.t") - F.col("b.t")).alias("offset"),
    ).agg(F.count(F.lit(1)).alias("n_matches"))
    return _best_offset(votes, min_matches)


def audio_dedup_incremental(
    new_media: DataFrame,
    store_fps: DataFrame | None = None,
    decoder="wav",
    min_matches: int = 5,
    max_bucket_size: int = 1024,
    **kernel_kwargs,
) -> tuple:
    """Batch-over-batch AUDIO dedup against a persisted fingerprint
    store — the daily-crawl shape of the exact/minhash/dHash
    incremental tiers (dedup.exact_dedup_incremental,
    multimodal.dhash_dedup_incremental), pointed at audio: each
    arriving batch is fingerprinted ONCE and checked against the
    historical corpus WITHOUT re-decoding a single historical clip.
    Returns ``(pairs, updated_store)``:

    - ``pairs``: (id_a, id_b, n_matches >= min_matches) where id_a is
      always a NEW clip and id_b is either a store clip (cross
      matches, any id order) or another new clip (id_a < id_b).
      Store-vs-store pairs are never re-emitted.
    - ``updated_store``: store ∪ new fingerprint rows (media_id, fp)
      — ~20 longs per clip — for the caller to persist (plain
      parquet) as the next batch's store.

    Ids must be unique across store and batch (the incremental-dedup
    convention). Per-batch cost is O(new x matching buckets), never
    O(corpus); buckets are capped per side before each join."""
    if store_fps is not None and not isinstance(store_fps, DataFrame):
        raise TypeError(
            "store_fps must be a fingerprint DataFrame (media_id, fp) "
            "— e.g. spark.read.parquet(<store path>) — or None for the "
            f"first batch; got {type(store_fps).__name__}"
        )
    from functime_spark.materialize import materialize
    from functime_spark.pipeline.dedup import _store_pairs

    # one decode+fingerprint pass over the new batch, pinned: feeds
    # both candidate sides and the updated store
    new_fps = materialize(
        audio_fingerprints(new_media, decoder=decoder, **kernel_kwargs)
    )
    # The id filter is REQUIRED, not redundant: one clip can contribute
    # the same fp to a bucket more than once (periodic/tonal audio
    # repeats (f1, f2, dt) across anchors), and the sorted item struct
    # only guarantees a.id <= b.id among new-vs-new pairs — without it a
    # repeated-hash clip self-reports as its own duplicate
    # (audio_near_dups keeps the same filter for the same reason). A
    # new-vs-store pair never has equal ids (ids are unique across
    # store and batch), so its (id_a, id_b) never meets a new-vs-new
    # key either: one aggregate counts both kinds.
    pairs = (
        _store_pairs(new_fps, store_fps, ["fp"], max_bucket_size, ["media_id"])
        .filter(F.col("a.media_id") != F.col("b.media_id"))
        .groupBy(
            F.col("a.media_id").alias("id_a"),
            F.col("b.media_id").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_matches"))
        .filter(F.col("n_matches") >= min_matches)
    )
    updated = new_fps if store_fps is None else store_fps.unionByName(new_fps)
    return pairs, updated
