"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video travel as `binary` columns with a metadata struct;
decode / feature-extract / resize / frame-sample run as Arrow-batched
`mapInPandas` operators.

The decode step is a PLUGGABLE SEAM (r7): ``decoder=`` accepts

- ``"fake"`` — deterministic hash-seeded feature vector (no codec;
  SQL-replayable, the correctness gate's path);
- a registered name — ``"ppm"`` (pure-Python P6/P5 Netpbm parser),
  ``"wav"`` (stdlib ``wave``), ``"png"``/``"bmp"`` (stdlib zlib +
  numpy) and ``"jpeg"`` (pure-Python baseline JPEG, pipeline/jpeg.py)
  ship in-container as REAL codecs; ``register_decoder(name, fn)``
  adds more (e.g. a PIL/torchaudio wrapper on a cluster that has
  them);
- a callable — the contract is ``fn(payload: bytes) -> dict`` with a
  required ``"array"`` key holding a numeric ``np.ndarray`` (pixels,
  samples, frames — any shape) plus optional metadata keys.

``extract_features_media`` pools the decoded array into a fixed
``dim``-length vector (mean over ``dim`` contiguous buckets of the
flattened array — deterministic, replayable in numpy). Codec names
that need absent libraries still raise ``NotImplementedError`` naming
the seam.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("payload", BinaryType()),
        StructField("meta", StringType()),  # JSON: {width,height,codec,...}
    ]
)


def attach_payload(
    df: DataFrame, id_col: str, source_col: str, kind: str = "image"
) -> DataFrame:
    """Wrap an existing column's bytes as a media payload (testing path:
    any blob exercises the plumbing)."""
    return df.select(
        F.col(id_col).alias("media_id"),
        F.lit(kind).alias("kind"),
        F.col(source_col).cast("binary").alias("payload"),
        F.to_json(F.struct(F.length(source_col).alias("n_bytes"))).alias("meta"),
    )


def _fake_decode(payload: bytes, dim: int) -> np.ndarray:
    """Deterministic stand-in for a codec: sha256-chained feature vector.

    Component j = int(sha256(hex(sha256(payload)) + "-" + j)[:6], 16)
    / 2**23 - 1, uniform over [-1, 1). The 24-bit numerator makes every
    value exactly representable in float32, so the whole vector can be
    replayed byte-exactly by any engine with a sha256 function (the
    correctness gate re-derives it in DuckDB SQL)."""
    base = hashlib.sha256(payload or b"").hexdigest()
    out = np.empty(dim, dtype="float32")
    for j in range(dim):
        hj = hashlib.sha256(f"{base}-{j}".encode()).hexdigest()
        out[j] = int(hj[:6], 16) / 8388608.0 - 1.0
    return out


def decode_ppm(payload: bytes) -> dict:
    """Pure-Python Netpbm decoder (P6 binary RGB / P5 binary gray) —
    a REAL in-container codec proving the seam against an actual
    format. Returns {"array": HxWx3|HxW uint8, "width", "height",
    "mode"}. Comments (#...) in the header are honored."""
    if not payload or payload[:2] not in (b"P6", b"P5"):
        raise ValueError("not a binary PPM/PGM payload (expected P6/P5 magic)")
    magic = payload[:2].decode()
    # header tokenizer: whitespace-separated ints, # starts a comment
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = tokens
    if maxval > 255:
        raise ValueError("16-bit Netpbm not supported by the vendored decoder")
    ch = 3 if magic == "P6" else 1
    raw = np.frombuffer(payload, dtype=np.uint8, count=w * h * ch, offset=pos)
    arr = raw.reshape((h, w, 3)) if ch == 3 else raw.reshape((h, w))
    return {
        "array": arr,
        "width": w,
        "height": h,
        "mode": "rgb" if ch == 3 else "gray",
    }


def decode_wav(payload: bytes) -> dict:
    """Stdlib-`wave` PCM decoder — the audio half of the real-codec
    proof. Returns {"array": int16/uint8 samples (interleaved),
    "rate", "channels", "sample_width"}. Non-WAV / truncated payloads
    raise the seam's documented ValueError (wave.Error mapped here so
    every registered decoder shares one failure contract)."""
    import io
    import wave

    try:
        ctx = wave.open(io.BytesIO(payload))
    except (wave.Error, EOFError) as exc:
        raise ValueError(f"not a WAV payload ({exc})") from None
    with ctx as wf:
        n, sw = wf.getnframes(), wf.getsampwidth()
        frames = wf.readframes(n)
        dtype = {1: np.uint8, 2: np.dtype("<i2"), 4: np.dtype("<i4")}.get(sw)
        if dtype is None:
            raise ValueError(f"unsupported WAV sample width {sw}")
        return {
            "array": np.frombuffer(frames, dtype=dtype),
            "rate": wf.getframerate(),
            "channels": wf.getnchannels(),
            "sample_width": sw,
        }


def decode_png(payload: bytes) -> dict:
    """Pure-Python PNG decoder (stdlib zlib + per-scanline unfilter) —
    8-bit depth, color types 0 (gray), 2 (RGB), 4 (gray+alpha),
    6 (RGBA), non-interlaced: the shapes ML pipelines actually emit.
    Returns {"array": HxW[xC] uint8, "width", "height", "mode"}."""
    import struct
    import zlib

    if not payload or payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload (bad signature)")
    pos, ihdr, idat = 8, None, []
    while pos + 8 <= len(payload):
        (length,), ctype = struct.unpack(">I", payload[pos : pos + 4]), payload[
            pos + 4 : pos + 8
        ]
        data = payload[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + data + crc
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT chunks")
    w, h, depth, color, comp, filt, interlace = ihdr
    if depth != 8 or interlace != 0:
        raise ValueError(
            "vendored PNG decoder supports 8-bit non-interlaced only"
        )
    channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(color)
    if channels is None:
        raise ValueError(f"unsupported PNG color type {color} (palette?)")
    raw = zlib.decompress(b"".join(idat))
    stride = w * channels
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG scanline payload size mismatch")
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        ftype = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).astype(np.int32)
        if ftype == 0:  # None
            cur = line
        elif ftype == 2:  # Up
            cur = (line + prev) & 0xFF
        else:
            # Sub/Average/Paeth need the in-progress scanline: per-pixel
            # left dependency, walked channel-group-wise
            cur = np.zeros(stride, dtype=np.int32)
            for i in range(stride):
                a = cur[i - channels] if i >= channels else 0  # left
                b = int(prev[i])  # up
                if ftype == 1:  # Sub
                    cur[i] = (line[i] + a) & 0xFF
                elif ftype == 3:  # Average
                    cur[i] = (line[i] + ((a + b) >> 1)) & 0xFF
                elif ftype == 4:  # Paeth
                    c = int(prev[i - channels]) if i >= channels else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    cur[i] = (line[i] + pred) & 0xFF
                else:
                    raise ValueError(f"unknown PNG filter {ftype}")
        out[y] = cur.astype(np.uint8)
        prev = out[y]
    arr = out if channels == 1 else out.reshape(h, w, channels)
    mode = {1: "gray", 2: "gray+a", 3: "rgb", 4: "rgba"}[channels]
    return {"array": arr, "width": w, "height": h, "mode": mode}


def encode_wav(
    arr, rate: int = 16000, sampwidth: int = 2, channels: int = 1
) -> bytes:
    """stdlib-wave PCM encoder (r8): the write half of the audio seam
    — float input in [-1, 1] is quantized to the target width (8-bit
    gets the unsigned +128 offset); int input passes through AS-IS in
    the width's own convention (uint8 already 128-centered, int16/32
    signed) so decode_wav -> encode_wav round-trips losslessly. Pairs
    with the WAV decode path so curated audio can round-trip through
    WebDataset shards."""
    import io
    import wave

    a = np.asarray(arr)
    if a.dtype.kind == "f":
        lim = float(1 << (8 * sampwidth - 1))
        a = np.clip(np.round(a * lim), -lim, lim - 1)
        if sampwidth == 1:
            a = a + 128.0  # 8-bit WAV is unsigned
    dt = {1: np.uint8, 2: np.int16, 4: np.int32}.get(sampwidth)
    if dt is None:
        raise ValueError(f"unsupported WAV sample width {sampwidth}")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(channels)
        wf.setsampwidth(sampwidth)
        wf.setframerate(rate)
        wf.writeframes(a.astype(dt).tobytes())
    return buf.getvalue()


def resample_wav(payload: bytes, target_rate: int) -> bytes:
    """Linear-interpolation WAV resampling (r9): the rate-normalization
    step every speech-corpus pipeline runs (mixed-rate crawls ->
    one model rate). Mono 16-bit PCM only (the curated-speech shape);
    sample j of the output sits at source position
    p_j = (j * rate_in) / target_rate (exact double division), with
    n_out = floor((n_in - 1) * target_rate / rate_in) + 1 so every
    position interpolates inside the source. Quantization is
    floor(y + 0.5) clipped to int16 — written that way (not round())
    so the SQL oracle replays the exact same tie behavior."""
    d = decode_wav(payload)
    if d["channels"] != 1 or d["sample_width"] != 2:
        raise ValueError(
            "resample_wav supports mono 16-bit PCM (got "
            f"{d['channels']}ch/{d['sample_width']*8}-bit) — mix down "
            "and re-quantize first"
        )
    if target_rate < 1:
        raise ValueError("target_rate must be positive")
    x = d["array"].astype(np.float64)
    n_in, rate_in = len(x), int(d["rate"])
    if n_in == 0 or target_rate == rate_in:
        return encode_wav(d["array"], rate=target_rate, sampwidth=2)
    n_out = (n_in - 1) * target_rate // rate_in + 1
    j = np.arange(n_out, dtype=np.float64)
    p = (j * rate_in) / target_rate
    i0 = np.floor(p).astype(np.int64)
    i1 = np.minimum(i0 + 1, n_in - 1)
    frac = p - i0
    y = x[i0] + frac * (x[i1] - x[i0])
    q = np.clip(np.floor(y + 0.5), -32768, 32767).astype(np.int16)
    return encode_wav(q, rate=target_rate, sampwidth=2)


def resample_audio(
    media: DataFrame,
    target_rate: int,
    decoder: str = "wav",
    on_error: str = "raise",
) -> DataFrame:
    """Batch rate normalization over a media frame: each payload is
    resampled by `resample_wav` in one mapInPandas pass (no shuffle —
    the same decode-where-the-bytes-are shape as curate_media); meta
    carries the new rate. Only 'wav' is wired in-container; other
    formats come in through register_decoder + an encoder pair.

    ``on_error='raise'`` (default) surfaces the seam's ValueError for
    a non-WAV/corrupt/unsupported payload; ``'drop'`` silently skips
    bad rows (the curate_media contract — use it on mixed or scraped
    frames where a stray image row must not fail the job)."""
    if decoder != "wav":
        raise NotImplementedError(
            "resample_audio supports the in-container 'wav' codec; "
            "register a decode/encode pair for other formats"
        )
    if on_error not in ("raise", "drop"):
        raise ValueError("on_error must be 'raise' or 'drop'")

    def run(batches: Iterator) -> Iterator:
        import json as _json

        import pandas as pd

        meta = _json.dumps({"rate": target_rate})
        for pdf in batches:
            out = {"media_id": [], "kind": [], "payload": [], "meta": []}
            for mid, kind, p in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"]
            ):
                try:
                    rp = resample_wav(bytes(p), target_rate)
                except ValueError:
                    if on_error == "raise":
                        raise
                    continue
                out["media_id"].append(mid)
                out["kind"].append(kind)
                out["payload"].append(rp)
                out["meta"].append(meta)
            yield pd.DataFrame(out)

    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("kind", StringType()),
            StructField("payload", BinaryType()),
            StructField("meta", StringType()),
        ]
    )
    return media.mapInPandas(run, schema=schema)


def encode_png(arr) -> bytes:
    """Pure-Python PNG encoder (stdlib zlib, r8): the lossless write
    half of the PNG codec — gray / gray+alpha / RGB / RGBA 8-bit
    non-interlaced, one Paeth-vs-None filter choice per scanline (the
    two filters that matter in practice; the decoder reads all five).
    Gives the media seam a lossless sink format (e.g. WebDataset
    shards of curated images) to complement lossy JPEG."""
    import struct
    import zlib

    a = np.asarray(arr)
    if a.dtype != np.uint8:
        raise ValueError("encode_png expects a uint8 array")
    if a.ndim == 2:
        a = a[..., None]
    if a.ndim != 3 or a.shape[2] not in (1, 2, 3, 4):
        raise ValueError("encode_png expects HxW[x{1,2,3,4}]")
    h, w, ch = a.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[ch]

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    flat = a.reshape(h, w * ch).astype(np.int16)
    raw = bytearray()
    prev = np.zeros(w * ch, dtype=np.int16)
    for y in range(h):
        line = flat[y]
        # Paeth prediction residuals (filter 4)
        left = np.zeros(w * ch, dtype=np.int16)
        left[ch:] = line[:-ch]
        upleft = np.zeros(w * ch, dtype=np.int16)
        upleft[ch:] = prev[:-ch]
        p = left + prev - upleft
        pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
        pred = np.where(
            (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
        )
        paeth = ((line - pred) & 0xFF).astype(np.uint8)
        none = (line & 0xFF).astype(np.uint8)
        # per-line minimum-sum-of-absolutes heuristic (RFC 2083 §9.6)
        cost = lambda r: int(np.abs(r.astype(np.int8).astype(int)).sum())  # noqa: E731
        if cost(paeth) <= cost(none):
            raw.append(4)
            raw.extend(paeth.tobytes())
        else:
            raw.append(0)
            raw.extend(none.tobytes())
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw), 9))
        + chunk(b"IEND", b"")
    )


def decode_gif(payload: bytes) -> dict:
    """Pure-Python GIF decoder (r8): GIF87a/89a, first frame — LZW
    with variable code width + clear/end codes, global or local color
    table, optional interlace (four-pass row reorder); GCE
    transparency is ignored (the seam wants pixels, not compositing).
    Returns {"array": HxWx3 uint8, "width", "height", "mode"}."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload (bad signature)")
    try:
        return _decode_gif_inner(payload)
    except (IndexError, struct.error):
        # cuts mid sub-block walk / header field — one contract,
        # like decode_jpeg's truncated-stream handling
        raise ValueError("truncated GIF stream") from None


def _decode_gif_inner(payload: bytes) -> dict:
    import struct

    if len(payload) < 13:
        raise ValueError("truncated GIF stream")
    sw, sh, flags, _bg, _ar = struct.unpack("<HHBBB", payload[6:13])
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        if pos + 3 * n > len(payload):
            raise ValueError("truncated GIF stream")
        gct = np.frombuffer(
            payload[pos:pos + 3 * n], dtype=np.uint8
        ).reshape(n, 3)
        pos += 3 * n
    while pos < len(payload):
        b = payload[pos]
        if b == 0x21:  # extension: label + data sub-blocks
            pos += 2
            while payload[pos]:
                pos += 1 + payload[pos]
            pos += 1
        elif b == 0x2C:  # image descriptor
            ix, iy, iw, ih, iflags = struct.unpack(
                "<HHHHB", payload[pos + 1:pos + 10]
            )
            pos += 10
            pal = gct
            if iflags & 0x80:
                n = 2 << (iflags & 0x07)
                if pos + 3 * n > len(payload):
                    raise ValueError("truncated GIF stream")
                pal = np.frombuffer(
                    payload[pos:pos + 3 * n], dtype=np.uint8
                ).reshape(n, 3)
                pos += 3 * n
            if pal is None:
                raise ValueError("GIF frame has no color table")
            min_code = payload[pos]
            pos += 1
            data = bytearray()
            while payload[pos]:
                ln = payload[pos]
                data += payload[pos + 1:pos + 1 + ln]
                pos += 1 + ln
            pos += 1
            idx = _lzw_decode(bytes(data), min_code, iw * ih)
            if len(idx) < iw * ih:
                raise ValueError("truncated GIF image data")
            grid = np.array(idx[: iw * ih], dtype=np.int32).reshape(ih, iw)
            if iflags & 0x40:  # interlaced: four-pass row order
                order = (
                    list(range(0, ih, 8)) + list(range(4, ih, 8))
                    + list(range(2, ih, 4)) + list(range(1, ih, 2))
                )
                de = np.empty_like(grid)
                de[np.array(order)] = grid
                grid = de
            rgb = pal[np.clip(grid, 0, len(pal) - 1)]
            return {
                "array": rgb.astype(np.uint8),
                "width": int(iw), "height": int(ih), "mode": "rgb",
            }
        elif b == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"unknown GIF block {b:#x} at {pos}")
    raise ValueError("GIF contains no image frame")


def _lzw_decode(data: bytes, min_code: int, max_pixels: int) -> list:
    """GIF-variant LZW: variable code width from min_code+1 bits,
    CLEAR resets the table, EOI stops; dictionary caps at 4096."""
    clear = 1 << min_code
    eoi = clear + 1
    out: list = []
    table: list = [[i] for i in range(clear)] + [[], []]
    width = min_code + 1
    acc = nbits = 0
    prev = None
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                table = [[i] for i in range(clear)] + [[], []]
                width = min_code + 1
                prev = None
                continue
            if code == eoi:
                return out
            if prev is None:
                if code >= len(table):
                    raise ValueError("corrupt GIF LZW stream")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                if len(table) < 4096:  # deferred-clear: cap at 12 bits
                    table.append(prev + [entry[0]])
            elif code == len(table):  # the KwKwK special case — ONLY
                entry = prev + [prev[0]]
                if len(table) < 4096:
                    table.append(entry)
            else:
                # anything past next-free-slot is corruption, not data
                raise ValueError("corrupt GIF LZW stream")
            out.extend(entry)
            prev = entry
            if len(table) == (1 << width) and width < 12:
                width += 1
            if len(out) >= max_pixels:
                return out
    return out


def encode_gif(arr, interlace: bool = False) -> bytes:
    """Pure-Python GIF89a encoder (r9): the write half of the GIF
    codec, pairing decode_gif the way encode_png pairs decode_png.
    `arr` is HxW uint8 gray or HxWx3 uint8 RGB with <= 256 distinct
    colors (GIF is palette-indexed — quantization is out of scope, a
    caller with a true-color image wants encode_png/encode_jpeg). Real
    variable-width LZW (CLEAR bootstrap, late width change matching
    the decoder's len(table) == 1<<width rule, 4096-cap deferred
    clear), optional four-pass interlace, global color table padded to
    a power of two. One image frame + trailer; refereed byte-level
    against javax.imageio reads in tests."""
    import struct

    a = np.asarray(arr)
    if a.dtype != np.uint8:
        raise ValueError("encode_gif expects a uint8 array")
    if a.ndim == 2:
        a = np.repeat(a[..., None], 3, axis=2)
    if a.ndim != 3 or a.shape[2] != 3:
        raise ValueError("encode_gif expects HxW (gray) or HxWx3 (RGB)")
    if a.size == 0:
        raise ValueError("encode_gif: zero-area image")
    h, w, _ = a.shape
    flat = a.reshape(-1, 3)
    pal, idx = np.unique(flat, axis=0, return_inverse=True)
    if len(pal) > 256:
        raise ValueError(
            f"encode_gif: {len(pal)} distinct colors (GIF caps the "
            "palette at 256 — quantize first, or use encode_png)"
        )
    # GCT size is 2<<k entries; pad the palette up to the power of two
    k = 0
    while (2 << k) < max(len(pal), 2):
        k += 1
    gct = np.zeros((2 << k, 3), dtype=np.uint8)
    gct[: len(pal)] = pal
    min_code = max(2, k + 1)  # spec floor: min LZW code size is 2

    rows = idx.reshape(h, w)
    if interlace:
        order = (
            list(range(0, h, 8)) + list(range(4, h, 8))
            + list(range(2, h, 4)) + list(range(1, h, 2))
        )
        rows = rows[np.array(order)]
    pixels = rows.ravel().tolist()

    clear, eoi = 1 << min_code, (1 << min_code) + 1
    codes: dict = {(p,): p for p in range(clear)}
    next_code, width = eoi + 1, min_code + 1
    out = bytearray()
    acc = nbits = 0

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear)
    run = (pixels[0],)
    for p in pixels[1:]:
        if run + (p,) in codes:
            run += (p,)
            continue
        emit(codes[run])
        if next_code < 4096:
            codes[run + (p,)] = next_code
            next_code += 1
            # late change: the decoder widens only after ITS table
            # (one add behind this one) reaches 1<<width
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        run = (p,)
    emit(codes[run])
    emit(eoi)
    if nbits:
        out.append(acc & 0xFF)

    payload = bytearray()
    payload += b"GIF89a"
    payload += struct.pack("<HHBBB", w, h, 0x80 | (k & 0x07), 0, 0)
    payload += gct.tobytes()
    payload += struct.pack(
        "<BHHHHB", 0x2C, 0, 0, w, h, 0x40 if interlace else 0
    )
    payload.append(min_code)
    for i in range(0, len(out), 255):
        block = out[i:i + 255]
        payload.append(len(block))
        payload += block
    payload += b"\x00\x3b"
    return bytes(payload)


def decode_tiff(payload: bytes) -> dict:
    """Pure-Python baseline-TIFF decoder (r9): uncompressed
    (Compression=1) 8-bit grayscale/RGB/RGBA, both byte orders
    (II/MM), strip layout with any RowsPerStrip, first IFD only —
    the archival/scanned-corpus shape. PlanarConfiguration must be
    chunky (1, the default). Returns {"array": HxW[xC] uint8,
    "width", "height", "mode"} — the register_decoder contract."""
    import struct

    if len(payload) < 8 or payload[:2] not in (b"II", b"MM"):
        raise ValueError("not a TIFF payload (bad byte-order mark)")
    bo = "<" if payload[:2] == b"II" else ">"
    magic, ifd_off = struct.unpack(bo + "HI", payload[2:8])
    if magic != 42:
        raise ValueError("not a TIFF payload (magic != 42)")
    try:
        n = struct.unpack(bo + "H", payload[ifd_off:ifd_off + 2])[0]
        tags: dict = {}
        _TYPE_SIZE = {1: 1, 3: 2, 4: 4}
        for i in range(n):
            e = payload[ifd_off + 2 + 12 * i:ifd_off + 14 + 12 * i]
            tag, typ, cnt = struct.unpack(bo + "HHI", e[:8])
            if typ not in _TYPE_SIZE:
                continue  # RATIONAL/ASCII metadata — not needed here
            sz = _TYPE_SIZE[typ] * cnt
            if sz <= 4:
                raw = e[8:8 + sz]
            else:
                off = struct.unpack(bo + "I", e[8:12])[0]
                raw = payload[off:off + sz]  # O(sz), not a tail copy
            fmt = {1: "B", 3: "H", 4: "I"}[typ]
            tags[tag] = list(struct.unpack(bo + str(cnt) + fmt, raw))
    except (IndexError, struct.error):
        raise ValueError("truncated TIFF stream") from None

    def one(tag, default=None):
        v = tags.get(tag)
        if v is None:
            if default is None:
                raise ValueError(f"TIFF missing required tag {tag}")
            return default
        return v[0]

    w, h = one(256), one(257)
    comp = one(259, 1)
    if comp != 1:
        raise ValueError(
            f"vendored TIFF decoder supports Compression=1 only (got "
            f"{comp} — LZW/JPEG-in-TIFF need external codecs)"
        )
    if one(284, 1) != 1:
        raise ValueError("vendored TIFF decoder supports chunky planar only")
    spp = one(277, 1)
    bits = tags.get(258, [8])
    if any(b != 8 for b in bits) or spp not in (1, 3, 4):
        raise ValueError("vendored TIFF decoder supports 8-bit gray/RGB/RGBA")
    # Photometric (262): 0 = WhiteIsZero (archival/fax scans — decode
    # by inversion), 1 = BlackIsZero, 2 = RGB. Palette (3) and the
    # YCbCr/CMYK variants would silently produce wrong pixels if
    # ignored, so they reject loudly like every other unsupported
    # shape. Default when the tag is absent: infer from spp.
    photo = one(262, 1 if spp == 1 else 2)
    if photo not in (0, 1, 2):
        raise ValueError(
            f"vendored TIFF decoder supports Photometric 0/1/2 (got "
            f"{photo} — palette/YCbCr/CMYK need external codecs)"
        )
    if (photo == 2) != (spp in (3, 4)):
        raise ValueError(
            f"TIFF Photometric {photo} inconsistent with "
            f"SamplesPerPixel {spp}"
        )
    offsets = tags.get(273)
    counts = tags.get(279)
    if not offsets or not counts or len(offsets) != len(counts):
        raise ValueError("TIFF missing strip offsets/byte counts")
    data = b"".join(
        payload[o:o + c] for o, c in zip(offsets, counts)
    )
    if len(data) < w * h * spp:
        raise ValueError("truncated TIFF strip data")
    arr = np.frombuffer(
        data[: w * h * spp], dtype=np.uint8
    ).reshape((h, w) if spp == 1 else (h, w, spp))
    if photo == 0:  # WhiteIsZero: invert to the BlackIsZero convention
        arr = (255 - arr.astype(np.int16)).astype(np.uint8)
    mode = {1: "gray", 3: "rgb", 4: "rgba"}[spp]
    return {"array": arr, "width": int(w), "height": int(h), "mode": mode}


def encode_tiff(
    arr, rows_per_strip: int | None = None, orientation: int | None = None
) -> bytes:
    """Pure-Python baseline-TIFF encoder (r9): little-endian (II),
    uncompressed, 8-bit gray/RGB/RGBA, strip layout (default one
    strip; pass rows_per_strip to exercise multi-strip readers). The
    lossless interchange sink next to encode_png — and the write half
    decode_tiff round-trips, refereed against javax.imageio.
    ``orientation`` (r10) writes TIFF tag 274 (1..8, the EXIF
    convention) — decode_tiff ignores it (pixels stay stored-order);
    normalize_orientation is the consumer."""
    import struct

    a = np.asarray(arr)
    if a.dtype != np.uint8:
        raise ValueError("encode_tiff expects a uint8 array")
    if a.ndim == 2:
        a = a[..., None]
    if a.ndim != 3 or a.shape[2] not in (1, 3, 4):
        raise ValueError("encode_tiff expects HxW (gray), HxWx3 or HxWx4")
    h, w, spp = a.shape
    rps = h if rows_per_strip is None else max(1, int(rows_per_strip))
    strips = [
        a[y:y + rps].tobytes() for y in range(0, h, rps)
    ]
    photometric = 1 if spp == 1 else 2

    # layout: 8B header | strip data (each padded to even length — the
    # TIFF 6.0 word-alignment rule for every offset; strict libtiff
    # readers reject odd value offsets) | BitsPerSample array (spp>1) |
    # StripOffsets/ByteCounts arrays (if >1 strip) | IFD
    pos = 8
    strip_offsets = []
    pads = []
    for s in strips:
        strip_offsets.append(pos)
        pad = len(s) % 2
        pads.append(pad)
        pos += len(s) + pad
    extra = b""

    def _arr_ref(values, typ_fmt):
        """Value slot for a multi-value SHORT/LONG tag: inline when it
        fits 4 bytes, else an offset into the `extra` region."""
        nonlocal extra, pos
        raw = struct.pack("<" + str(len(values)) + typ_fmt, *values)
        if len(raw) <= 4:
            return raw.ljust(4, b"\x00")
        ref = struct.pack("<I", pos)
        extra += raw
        pos += len(raw)
        return ref

    entries = []  # (tag, type, count, value4)
    entries.append((256, 4, 1, struct.pack("<I", w)))
    entries.append((257, 4, 1, struct.pack("<I", h)))
    entries.append((258, 3, spp, _arr_ref([8] * spp, "H")))
    entries.append((259, 3, 1, struct.pack("<HH", 1, 0)))
    entries.append((262, 3, 1, struct.pack("<HH", photometric, 0)))
    if orientation is not None:
        if not 1 <= orientation <= 8:
            raise ValueError("orientation must be in 1..8 (EXIF)")
        entries.append((274, 3, 1, struct.pack("<HH", orientation, 0)))
    entries.append((273, 4, len(strips), _arr_ref(strip_offsets, "I")))
    entries.append((277, 3, 1, struct.pack("<HH", spp, 0)))
    entries.append((278, 4, 1, struct.pack("<I", rps)))
    entries.append(
        (279, 4, len(strips), _arr_ref([len(s) for s in strips], "I"))
    )
    ifd_off = pos
    out = bytearray()
    out += b"II" + struct.pack("<HI", 42, ifd_off)
    for s, pad in zip(strips, pads):
        out += s
        out += b"\x00" * pad
    out += extra
    out += struct.pack("<H", len(entries))
    for tag, typ, cnt, val in sorted(entries):
        out += struct.pack("<HHI", tag, typ, cnt) + val
    out += struct.pack("<I", 0)  # no next IFD
    return bytes(out)


def decode_bmp(payload: bytes) -> dict:
    """Pure-Python BMP decoder (uncompressed 24/32-bit BI_RGB, the
    dominant dump format). Rows are bottom-up and 4-byte padded; output
    is HxWx3 uint8 RGB (alpha dropped for 32-bit).
    Returns {"array", "width", "height", "mode"}."""
    import struct

    if not payload or payload[:2] != b"BM":
        raise ValueError("not a BMP payload (bad magic)")
    data_offset = struct.unpack("<I", payload[10:14])[0]
    hdr_size = struct.unpack("<I", payload[14:18])[0]
    if hdr_size < 40:
        raise ValueError("BMP core-header variant not supported")
    w, h = struct.unpack("<ii", payload[18:26])
    bpp = struct.unpack("<H", payload[28:30])[0]
    compression = struct.unpack("<I", payload[30:34])[0]
    if compression != 0 or bpp not in (24, 32):
        raise ValueError(
            f"vendored BMP decoder supports uncompressed 24/32-bit only "
            f"(got bpp={bpp}, compression={compression})"
        )
    flipped = h > 0
    h = abs(h)
    nch = bpp // 8
    stride = (w * nch + 3) & ~3
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=h * stride, offset=data_offset
    ).reshape(h, stride)
    px = rows[:, : w * nch].reshape(h, w, nch)
    if flipped:
        px = px[::-1]
    # BGR(A) -> RGB
    arr = np.ascontiguousarray(px[:, :, [2, 1, 0]])
    return {"array": arr, "width": w, "height": h, "mode": "rgb"}


def decode_jpeg(payload: bytes) -> dict:
    """Baseline-sequential JPEG decoder (pure Python + numpy, tables
    read from the file's own DQT/DHT segments; 4:4:4 / 4:2:2 / 4:2:0,
    DRI/RSTn restarts) — see pipeline/jpeg.py. Lazily imported so the
    DCT matrix is only built when the codec is actually used."""
    from functime_spark.pipeline.jpeg import decode_jpeg as _dj

    return _dj(payload)


def decode_mjpeg(payload: bytes) -> dict:
    """MJPEG-AVI video decoder-seam adapter (pipeline/mjpeg.py): RIFF
    container walk + first-frame baseline-JPEG decode, with fps /
    n_frames metadata alongside."""
    from functime_spark.pipeline.mjpeg import decode_mjpeg_first_frame

    return decode_mjpeg_first_frame(payload)


# ---------------------------------------------------------------------------
# EXIF metadata (r10): curation filters on camera/timestamp/orientation/
# GPS-presence without decoding a single pixel. APP1 carries a complete
# embedded TIFF stream, so the reader is the decode_tiff IFD walk
# (multimodal.py:641) extended with the ASCII/RATIONAL entry types EXIF
# uses. Reference behavior: functime has no media tier — this follows
# the public EXIF 2.3 / TIFF 6.0 specs.
# ---------------------------------------------------------------------------

_IFD_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}


def _ifd_tags(tiff: bytes, bo: str, ifd_off: int) -> dict:
    """One IFD's tags from an in-memory TIFF stream: {tag: value}
    where ASCII (type 2) decodes to a NUL-stripped str, SHORT/LONG/
    BYTE to a list of ints, RATIONAL to a list of (num, den) tuples.
    Same entry arithmetic as decode_tiff's walk, widened to the EXIF
    entry types; unknown types are skipped (forward-compatible, per
    TIFF 6.0 §7)."""
    import struct

    tags: dict = {}
    if ifd_off + 2 > len(tiff):
        raise ValueError("truncated IFD")
    n = struct.unpack(bo + "H", tiff[ifd_off:ifd_off + 2])[0]
    for i in range(n):
        e = tiff[ifd_off + 2 + 12 * i:ifd_off + 14 + 12 * i]
        if len(e) < 12:
            raise ValueError("truncated IFD entry")
        tag, typ, cnt = struct.unpack(bo + "HHI", e[:8])
        if typ not in _IFD_TYPE_SIZE:
            continue
        sz = _IFD_TYPE_SIZE[typ] * cnt
        if sz <= 4:
            raw = e[8:8 + sz]
        else:
            off = struct.unpack(bo + "I", e[8:12])[0]
            raw = tiff[off:off + sz]
        if len(raw) < sz:
            raise ValueError("truncated IFD value")
        if typ == 2:
            tags[tag] = raw.split(b"\x00", 1)[0].decode("ascii", "replace")
        elif typ == 5:
            vals = struct.unpack(bo + str(2 * cnt) + "I", raw)
            tags[tag] = [
                (vals[2 * j], vals[2 * j + 1]) for j in range(cnt)
            ]
        else:
            fmt = {1: "B", 3: "H", 4: "I"}[typ]
            tags[tag] = list(struct.unpack(bo + str(cnt) + fmt, raw))
    return tags


def build_exif_app1(
    make: str | None = None,
    model: str | None = None,
    orientation: int | None = None,
    datetime: str | None = None,
    datetime_original: str | None = None,
    gps: tuple | None = None,
) -> bytes:
    """A complete JPEG APP1 segment (FFE1 marker + length + 'Exif\\0\\0'
    + little-endian TIFF) carrying the given IFD0 fields, an Exif
    sub-IFD when datetime_original is set, and a GPS IFD when ``gps``
    = (lat_deg, lon_deg) floats is set — the write half parse_exif
    round-trips, and the constructed-payload source for the media_exif
    gate."""
    import struct

    def ascii_entry(tag, s):
        return (tag, 2, s.encode("ascii") + b"\x00")

    ifd0 = []
    if make is not None:
        ifd0.append(ascii_entry(271, make))
    if model is not None:
        ifd0.append(ascii_entry(272, model))
    if orientation is not None:
        ifd0.append((274, 3, struct.pack("<HH", orientation, 0)))
    if datetime is not None:
        ifd0.append(ascii_entry(306, datetime))

    def rational(v, den=1000000):
        return struct.pack("<II", int(round(abs(v) * den)), den)

    exif_ifd = []
    if datetime_original is not None:
        exif_ifd.append(ascii_entry(36867, datetime_original))
    gps_ifd = []
    if gps is not None:
        lat, lon = gps
        gps_ifd.append((1, 2, (b"N" if lat >= 0 else b"S") + b"\x00"))
        gps_ifd.append((2, 5, rational(lat)))
        gps_ifd.append((3, 2, (b"E" if lon >= 0 else b"W") + b"\x00"))
        gps_ifd.append((4, 5, rational(lon)))

    n0 = len(ifd0) + (1 if exif_ifd else 0) + (1 if gps_ifd else 0)

    def ifd_block(entries, ifd_off, pointers=()):
        """(block bytes, extra bytes) for one IFD whose >4-byte values
        land right after the IFD block; ``pointers`` are pre-resolved
        (tag, LONG offset) entries appended in tag order."""
        n = len(entries) + len(pointers)
        extra = b""
        pos = ifd_off + 2 + 12 * n + 4
        rows = []
        for tag, typ, raw in entries:
            cnt = len(raw) // _IFD_TYPE_SIZE[typ] if typ != 3 else 1
            if typ == 3:
                raw = raw[:4]
            if len(raw) <= 4:
                val = raw.ljust(4, b"\x00")
            else:
                val = struct.pack("<I", pos)
                pad = len(raw) % 2
                extra += raw + b"\x00" * pad
                pos += len(raw) + pad
            rows.append((tag, typ, cnt, val))
        for tag, off in pointers:
            rows.append((tag, 4, 1, struct.pack("<I", off)))
        blk = struct.pack("<H", n)
        for tag, typ, cnt, val in sorted(rows):
            blk += struct.pack("<HHI", tag, typ, cnt) + val
        blk += struct.pack("<I", 0)
        return blk, extra

    # layout: TIFF header (8) | IFD0 block | IFD0 extras | exif IFD
    # block+extras | gps IFD block+extras — sub-IFD offsets computed
    # from the sizes of everything before them (two dry passes)
    def block_size(entries, n_ptr):
        n = len(entries) + n_ptr
        sz = 2 + 12 * n + 4
        for _, typ, raw in entries:
            if typ == 3:
                raw = raw[:4]
            if len(raw) > 4:
                sz += len(raw) + len(raw) % 2
        return sz

    exif_off = 8 + block_size(ifd0, (1 if exif_ifd else 0) + (1 if gps_ifd else 0))
    gps_off = exif_off + (block_size(exif_ifd, 0) if exif_ifd else 0)
    pointers = []
    if exif_ifd:
        pointers.append((34665, exif_off))
    if gps_ifd:
        pointers.append((34853, gps_off))
    blk0, ex0 = ifd_block(ifd0, 8, pointers)
    tiff = b"II" + struct.pack("<HI", 42, 8) + blk0 + ex0
    assert not exif_ifd or len(tiff) == exif_off
    if exif_ifd:
        blk, ex = ifd_block(exif_ifd, exif_off)
        tiff += blk + ex
    assert not gps_ifd or len(tiff) == gps_off
    if gps_ifd:
        blk, ex = ifd_block(gps_ifd, gps_off)
        tiff += blk + ex
    body = b"Exif\x00\x00" + tiff
    return b"\xff\xe1" + struct.pack(">H", len(body) + 2) + body


def insert_exif(jpeg_payload: bytes, **fields) -> bytes:
    """Splice a build_exif_app1 segment into an existing JPEG right
    after SOI (where JFIF/EXIF writers put APP1)."""
    if jpeg_payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    return jpeg_payload[:2] + build_exif_app1(**fields) + jpeg_payload[2:]


def parse_exif(payload: bytes) -> dict | None:
    """EXIF fields from a JPEG (APP1 marker walk — pixels are never
    decoded) or a bare TIFF payload. Returns {"make", "model",
    "orientation", "datetime", "datetime_original", "has_gps"} with
    None for absent fields, or None when the payload carries no EXIF
    at all. Corrupt EXIF raises ValueError (callers in curation
    pipelines catch and treat as no-EXIF)."""
    import struct

    tiff = None
    if payload[:2] == b"\xff\xd8":  # JPEG: walk segment markers
        pos = 2
        while pos + 4 <= len(payload):
            if payload[pos] != 0xFF:
                break
            marker = payload[pos + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                pos += 2
                continue
            if marker in (0xD9, 0xDA):  # EOI / SOS: no APP1 ahead
                break
            seglen = struct.unpack(">H", payload[pos + 2:pos + 4])[0]
            if marker == 0xE1 and payload[
                pos + 4:pos + 10
            ] == b"Exif\x00\x00":
                tiff = payload[pos + 10:pos + 2 + seglen]
                break
            pos += 2 + seglen
    elif payload[:2] in (b"II", b"MM"):
        tiff = payload
    if tiff is None:
        return None
    if len(tiff) < 8 or tiff[:2] not in (b"II", b"MM"):
        raise ValueError("corrupt EXIF: bad TIFF header")
    bo = "<" if tiff[:2] == b"II" else ">"
    magic, ifd_off = struct.unpack(bo + "HI", tiff[2:8])
    if magic != 42:
        raise ValueError("corrupt EXIF: TIFF magic != 42")
    tags = _ifd_tags(tiff, bo, ifd_off)
    out = {
        "make": tags.get(271),
        "model": tags.get(272),
        "orientation": tags[274][0] if 274 in tags else None,
        "datetime": tags.get(306),
        "datetime_original": None,
        "has_gps": 34853 in tags,
    }
    if 34665 in tags:  # Exif sub-IFD
        sub = _ifd_tags(tiff, bo, tags[34665][0])
        out["datetime_original"] = sub.get(36867)
    return out


def extract_exif(media: DataFrame) -> DataFrame:
    """(media_id, exif_make, exif_model, exif_orientation,
    exif_datetime, exif_datetime_original, exif_has_gps) via ONE
    mapInPandas marker-walk pass — metadata extraction never touches
    entropy-coded pixel data, so it runs at I/O speed regardless of
    image size. No-EXIF and corrupt-EXIF payloads yield all-null
    fields (has_gps null), the scraped-corpus convention."""

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = {
                "media_id": [], "exif_make": [], "exif_model": [],
                "exif_orientation": [], "exif_datetime": [],
                "exif_datetime_original": [], "exif_has_gps": [],
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    d = parse_exif(bytes(payload))
                except Exception:
                    d = None
                out["media_id"].append(mid)
                out["exif_make"].append(d["make"] if d else None)
                out["exif_model"].append(d["model"] if d else None)
                out["exif_orientation"].append(
                    d["orientation"] if d else None
                )
                out["exif_datetime"].append(d["datetime"] if d else None)
                out["exif_datetime_original"].append(
                    d["datetime_original"] if d else None
                )
                out["exif_has_gps"].append(d["has_gps"] if d else None)
            yield pd.DataFrame(out)

    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("exif_make", StringType()),
            StructField("exif_model", StringType()),
            StructField("exif_orientation", IntegerType()),
            StructField("exif_datetime", StringType()),
            StructField("exif_datetime_original", StringType()),
            StructField("exif_has_gps", BooleanType()),
        ]
    )
    return media.mapInPandas(run, schema=schema)


#: EXIF orientation -> stored-array -> upright-array (numpy views; the
#: transform, not the inverse — applying it to the stored pixels yields
#: the image as the camera saw it). Derived from the EXIF 2.3 row0/col0
#: definitions; pinned by the inverse-roundtrip pytest.
_ORIENT_FIX = {
    1: lambda a: a,
    2: lambda a: a[:, ::-1],
    3: lambda a: a[::-1, ::-1],
    4: lambda a: a[::-1, :],
    5: lambda a: a.swapaxes(0, 1),
    6: lambda a: np.rot90(a, k=-1, axes=(0, 1)),
    7: lambda a: np.rot90(a[:, ::-1], k=-1, axes=(0, 1)),
    8: lambda a: np.rot90(a, k=1, axes=(0, 1)),
}


def apply_orientation(arr: np.ndarray, orientation: int) -> np.ndarray:
    """Upright view of a stored pixel array per its EXIF orientation
    (1..8). Unknown/absent orientations are the identity."""
    fn = _ORIENT_FIX.get(int(orientation) if orientation else 1)
    return np.ascontiguousarray(fn(arr)) if fn else arr


def normalize_orientation(
    media: DataFrame, decoder="jpeg", encoder: str = "png"
) -> DataFrame:
    """Rotate/flip every image upright per its EXIF/TIFF orientation
    tag (r10) — the normalization step real curation applies before
    hashing/training, so a 90°-rotated capture near-dups its upright
    twin and models never learn sideways text. One mapInPandas pass:
    parse_exif reads the tag (JPEG APP1 or TIFF IFD0), the registered
    decoder yields pixels, `apply_orientation` applies the EXIF 2.3
    transform, and the result re-encodes LOSSLESSLY (``encoder`` =
    'png' or 'tiff' — lossless by construction, so the gate can
    value-replay every output pixel). Returns (media_id, payload,
    width, height, orientation) — width/height are the UPRIGHT dims
    (swapped for orientations 5-8); undecodable payloads yield null
    payload/dims (the curate_media marker convention)."""
    enc = {"png": encode_png, "tiff": encode_tiff}.get(encoder)
    if enc is None:
        raise ValueError("encoder must be 'png' or 'tiff' (lossless)")
    fn = _resolve_decoder(decoder)
    if fn is None:
        raise ValueError("normalize_orientation needs a real decoder")

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = {"media_id": [], "payload": [], "width": [],
                   "height": [], "orientation": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                out["media_id"].append(mid)
                try:
                    raw = bytes(payload)
                    try:
                        ex = parse_exif(raw)
                    except ValueError:
                        ex = None
                    o = (ex or {}).get("orientation") or 1
                    arr = np.asarray(fn(raw)["array"])
                    up = apply_orientation(arr, o)
                except Exception:
                    out["payload"].append(None)
                    out["width"].append(None)
                    out["height"].append(None)
                    out["orientation"].append(None)
                    continue
                out["payload"].append(enc(up))
                out["width"].append(int(up.shape[1]))
                out["height"].append(int(up.shape[0]))
                out["orientation"].append(int(o))
            yield pd.DataFrame(out)

    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("payload", BinaryType()),
            StructField("width", LongType()),
            StructField("height", LongType()),
            StructField("orientation", IntegerType()),
        ]
    )
    return media.mapInPandas(run, schema=schema)


#: name -> fn(payload: bytes) -> {"array": np.ndarray, ...}
_DECODERS: dict = {
    "ppm": decode_ppm,
    "wav": decode_wav,
    "png": decode_png,
    "bmp": decode_bmp,
    "gif": decode_gif,
    "tiff": decode_tiff,
    "tif": decode_tiff,
    "jpeg": decode_jpeg,
    "jpg": decode_jpeg,
    "mjpeg": decode_mjpeg,
    "avi": decode_mjpeg,
}


def register_decoder(name: str, fn) -> None:
    """Register a codec under `name` for extract_features_media's
    decoder= parameter. Contract: fn(payload: bytes) -> dict with a
    numeric np.ndarray under "array" (any shape) + optional metadata."""
    if not callable(fn):
        raise TypeError("decoder must be callable: bytes -> dict")
    _DECODERS[name] = fn


def pool_features(arr: np.ndarray, dim: int) -> np.ndarray:
    """Deterministic fixed-length pooling of a decoded array: mean of
    each of `dim` contiguous buckets of the flattened float64 values
    (empty buckets -> 0.0), float32 out — replayable in plain numpy."""
    x = np.asarray(arr, dtype="float64").ravel()
    out = np.zeros(dim, dtype="float32")
    for j, b in enumerate(np.array_split(x, dim)):
        if len(b):
            out[j] = np.float32(b.mean())
    return out


def _resolve_decoder(decoder):
    """decoder= -> fn(payload) -> dict, or None for the 'fake' stub."""
    if decoder == "fake":
        return None
    if callable(decoder):
        return decoder
    fn = _DECODERS.get(decoder)
    if fn is None:
        raise NotImplementedError(
            f"decoder '{decoder}' is not registered and its codec library "
            "is not in this image; register_decoder(name, fn) plugs in any "
            "bytes -> dict callable (in-container real codecs: "
            f"{sorted(_DECODERS)}), or use decoder='fake' for plumbing tests"
        )
    return fn


def extract_features_media(
    media: DataFrame, dim: int = 64, decoder="fake"
) -> DataFrame:
    """(media_id, kind, feature array<float>) via mapInPandas.

    decoder='fake' → deterministic hash features (stub math,
    SQL-replayable); a registered name ('ppm', 'wav', ...) or a
    callable (bytes -> {"array": ndarray, ...}) → REAL decode, with
    the array pooled to `dim` floats by pool_features."""
    fn = _resolve_decoder(decoder)

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            if fn is None:
                feats = [_fake_decode(p, dim).tolist() for p in pdf["payload"]]
            else:
                feats = [
                    pool_features(fn(bytes(p))["array"], dim).tolist()
                    for p in pdf["payload"]
                ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "feature": feats,
                }
            )

    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("kind", StringType()),
            StructField("feature", ArrayType(FloatType())),
        ]
    )
    return media.mapInPandas(run, schema=schema)


def _dhash_array(arr, hash_size: int = 8) -> int:
    """The dHash kernel on a decoded array — one definition shared by
    the image (dhash_media) and video (video_dhash) tiers: channel-sum
    luminance, nearest-neighbor grid sample to (hash_size+1) x
    hash_size, bit(y,x) = g[y][x+1] > g[y][x] packed row-major into a
    signed 64-bit long."""
    arr = np.asarray(arr)
    if arr.ndim == 3:
        arr = arr.astype(np.int64).sum(axis=2)
    else:
        arr = arr.astype(np.int64)
    W, H = hash_size + 1, hash_size
    h, w = arr.shape
    rows = np.minimum((np.arange(H) * h) // H, h - 1)
    cols = np.minimum((np.arange(W) * w) // W, w - 1)
    g = arr[rows][:, cols]
    bits = (g[:, 1:] > g[:, :-1]).ravel()
    val = 0
    for i in range(len(bits)):
        if bits[i]:
            val |= 1 << i
    return val - (1 << 64) if val >= (1 << 63) else val


def dhash_media(
    media: DataFrame, decoder="ppm", hash_size: int = 8
) -> DataFrame:
    """Perceptual difference-hash (dHash) fingerprints (r9): the
    standard near-duplicate IMAGE signature (decode -> luminance ->
    nearest-neighbor resize to (hash_size+1) x hash_size -> bit(y,x) =
    g[y][x+1] > g[y][x], packed row-major into a signed 64-bit long
    for hash_size=8). Luminance is the CHANNEL SUM — rank-equivalent
    to the mean and integer-exact, so the whole hash is replayable in
    SQL for deterministic payloads. Resize uses the resize_ppm index
    arithmetic (src = min((i * src_dim) // dst_dim, src_dim - 1)).

    Returns (media_id, phash long). One mapInPandas pass, no shuffle —
    the 100 TB shape is 'hash where the bytes are', with the pair
    search a separate banded join (dhash_near_dups)."""
    if hash_size * (hash_size + 1) > 72 or hash_size < 2:
        raise ValueError("hash_size must be in [2, 8] (64-bit packing)")
    fn = _resolve_decoder(decoder)
    if fn is None:
        raise ValueError(
            "dhash_media needs a real decoder (the 'fake' stub has no "
            "pixels to hash)"
        )
    def one(payload: bytes) -> int:
        return _dhash_array(fn(bytes(payload))["array"], hash_size)

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "phash": [one(p) for p in pdf["payload"]],
                }
            )

    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("phash", LongType()),
        ]
    )
    return media.mapInPandas(run, schema=schema)


def dhash_near_dups(
    media: DataFrame,
    decoder="ppm",
    hash_size: int = 8,
    max_hamming: int = 6,
    band_bits: int = 16,
    max_bucket_size: int = 512,
) -> DataFrame:
    """Near-duplicate IMAGE pairs: dHash fingerprints -> 16-bit
    band buckets -> exact Hamming verify <= max_hamming — the
    simhash_near_dups recipe pointed at pixels instead of tokens (the
    scraped-corpus shape: re-encoded/resized copies keep their dHash
    within a few bits). Buckets past `max_bucket_size` drop (the
    _cap_buckets wall). Returns (id_a, id_b, hamming)."""
    sigs = dhash_media(media, decoder=decoder, hash_size=hash_size)
    # no lineage cut: _bucket_pairs consumes the decode+hash pass
    # exactly once, and the phash rides in the item struct, so the
    # Hamming verify is a pure projection
    from functime_spark.pipeline.dedup import _bucket_pairs, _hamming, bit_band_rows

    banded = bit_band_rows(sigs, "phash", band_bits)
    pairs = _bucket_pairs(
        banded, ["band", "band_val"], max_bucket_size, ["media_id", "phash"]
    )
    return (
        pairs.select(
            F.col("a.media_id").alias("id_a"),
            F.col("b.media_id").alias("id_b"),
            _hamming("phash").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def dhash_dedup_incremental(
    new_media: DataFrame,
    store_sigs: DataFrame | None = None,
    decoder="ppm",
    hash_size: int = 8,
    max_hamming: int = 6,
    band_bits: int = 16,
    max_bucket_size: int = 512,
) -> tuple:
    """Batch-over-batch perceptual IMAGE dedup against a persisted
    dHash store — the daily-crawl shape the exact/minhash
    incremental tiers already pin (dedup.exact_dedup_incremental /
    minhash_dedup_incremental), pointed at pixels: each arriving
    media batch is fingerprinted ONCE and checked against the
    historical corpus WITHOUT re-decoding a single historical image.
    Returns ``(pairs, updated_store)``:

    - ``pairs``: (id_a, id_b, hamming <= max_hamming) where id_a is
      always a NEW image and id_b is either a store image (cross
      matches, any id order) or another new image (id_a < id_b).
      Store-vs-store pairs are never re-emitted — the store was
      deduped when it was built.
    - ``updated_store``: store ∪ new signatures (media_id, phash) —
      8 bytes per historical image — for the caller to persist
      (e.g. parquet) as the next batch's store.

    Ids must be unique across store and batch (the incremental-dedup
    convention). At 100 TB of images the store is ~one long per image
    and per-batch cost is O(new x matching buckets), never O(corpus);
    buckets are capped per side before the band join (_store_pairs).
    The streaming twin is stream_dhash_dedup (arrival-order state);
    this is the horizon-free batch path for unbounded crawls."""
    if store_sigs is not None and not isinstance(store_sigs, DataFrame):
        raise TypeError(
            "store_sigs must be a signature DataFrame (media_id, phash) "
            "— e.g. spark.read.parquet(<store path>) — or None for the "
            f"first batch; got {type(store_sigs).__name__}"
        )
    from functime_spark.materialize import materialize
    from functime_spark.pipeline.dedup import _hamming, _store_pairs, bit_band_rows

    # one decode+hash pass over the new batch, pinned: feeds both
    # candidate sides and the updated store
    new_sigs = materialize(
        dhash_media(new_media, decoder=decoder, hash_size=hash_size)
    )
    pairs = _store_pairs(
        bit_band_rows(new_sigs, "phash", band_bits),
        None if store_sigs is None else bit_band_rows(store_sigs, "phash", band_bits),
        ["band", "band_val"],
        max_bucket_size,
        ["media_id", "phash"],
    )
    pairs = (
        pairs.select(
            F.col("a.media_id").alias("id_a"),
            F.col("b.media_id").alias("id_b"),
            _hamming("phash").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    updated = new_sigs if store_sigs is None else store_sigs.unionByName(new_sigs)
    return pairs, updated


def frame_sample(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame sampling stub: emits (media_id, frame_idx) rows for
    frames 0, n, 2n... based on metadata frame counts (payload decode
    stubbed — frame count read from the meta JSON, default 1)."""
    meta = F.from_json("meta", "n_frames int, n_bytes long")
    n_frames = F.coalesce(meta["n_frames"], F.lit(1))
    idx = F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0)), F.lit(every_n))
    return media.select(
        "media_id", F.explode(idx).alias("frame_idx")
    )


def sample_frames(
    media: DataFrame, every_n: int = 10, quality: int = 85
) -> DataFrame:
    """REAL video frame sampling: walk each MJPEG-AVI payload's RIFF
    chunks, JPEG-decode only every `every_n`-th frame (skipped frames
    are never decoded), and emit each sampled frame as a STANDALONE
    baseline-JPEG payload — (media_id, frame_idx, n_frames, payload),
    the extract-frames-to-images step of a video training pipeline.
    One narrow mapInPandas pass; frames fan out inside the Arrow
    batch, nothing shuffles."""

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        from functime_spark.pipeline.jpeg import encode_jpeg
        from functime_spark.pipeline.mjpeg import decode_mjpeg_avi

        for pdf in batches:
            out = {"media_id": [], "frame_idx": [], "n_frames": [],
                   "payload": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                d = decode_mjpeg_avi(bytes(payload), every_n=every_n)
                for j, frame in enumerate(d["frames"]):
                    out["media_id"].append(mid)
                    out["frame_idx"].append(j * every_n)
                    out["n_frames"].append(d["n_frames"])
                    out["payload"].append(encode_jpeg(frame, quality=quality))
            yield pd.DataFrame(out)

    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("frame_idx", LongType()),
            StructField("n_frames", LongType()),
            StructField("payload", BinaryType()),
        ]
    )
    return media.mapInPandas(run, schema=schema)


def resize_ppm(payload: bytes, width: int, height: int) -> bytes:
    """REAL nearest-neighbor resize of a P6/P5 Netpbm payload,
    re-encoded in the same format — the in-container proof that the
    resize seam carries an actual codec round-trip."""
    d = decode_ppm(payload)
    arr, w, h = d["array"], d["width"], d["height"]
    rows = np.minimum((np.arange(height) * h) // height, h - 1)
    cols = np.minimum((np.arange(width) * w) // width, w - 1)
    resized = arr[rows][:, cols]
    magic = b"P6" if d["mode"] == "rgb" else b"P5"
    return magic + f"\n{width} {height}\n255\n".encode() + resized.tobytes()


def resize_jpeg(payload: bytes, width: int, height: int) -> bytes:
    """REAL JPEG resize: decode with the vendored T.81 codec,
    nearest-neighbor sample, re-encode at quality 90."""
    from functime_spark.pipeline.jpeg import decode_jpeg as _dj
    from functime_spark.pipeline.jpeg import encode_jpeg as _ej

    d = _dj(payload)
    arr, w, h = d["array"], d["width"], d["height"]
    rows = np.minimum((np.arange(height) * h) // height, h - 1)
    cols = np.minimum((np.arange(width) * w) // width, w - 1)
    return _ej(np.ascontiguousarray(arr[rows][:, cols]), quality=90)


#: name -> fn(payload, width, height) -> resized payload bytes
_RESIZERS: dict = {"ppm": resize_ppm, "jpeg": resize_jpeg, "jpg": resize_jpeg}


def register_resizer(name: str, fn) -> None:
    """Register a resize codec for resize_media's decoder= parameter.
    Contract: fn(payload: bytes, width: int, height: int) -> bytes."""
    if not callable(fn):
        raise TypeError("resizer must be callable: (bytes, w, h) -> bytes")
    _RESIZERS[name] = fn


def resize_media(
    media: DataFrame,
    width: int,
    height: int,
    decoder="fake",
) -> DataFrame:
    """Resize plumbing: (media_id, kind, payload, meta) -> same schema
    with the payload re-encoded at width x height and the meta JSON
    updated. Arrow-batched mapInPandas like a real codec pass (batch
    sizing follows spark.sql.execution.arrow.maxRecordsPerBatch).

    decoder='fake': the resized payload is the deterministic 32-byte
    sha256(hex(sha256(payload)) + "-{w}x{h}") digest — byte-exactly
    replayable in any engine with sha256, so the gate value-checks the
    full batch path. A registered name ('ppm') or a callable
    (payload, width, height) -> bytes performs a REAL resize;
    unregistered codec names raise, naming register_resizer."""
    if decoder == "fake":
        fn = None
    elif callable(decoder):
        fn = decoder
    else:
        fn = _RESIZERS.get(decoder)
        if fn is None:
            raise NotImplementedError(
                f"resizer '{decoder}' is not registered and its codec "
                "library is not in this image; register_resizer(name, fn) "
                "plugs in any (bytes, w, h) -> bytes callable "
                f"(in-container real codecs: {sorted(_RESIZERS)}), or use "
                "decoder='fake' for plumbing tests"
            )
    tag = f"-{width}x{height}"

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            if fn is None:
                out = [
                    hashlib.sha256(
                        (
                            hashlib.sha256(p or b"").hexdigest() + tag
                        ).encode()
                    ).digest()
                    for p in pdf["payload"]
                ]
            else:
                out = [fn(bytes(p), width, height) for p in pdf["payload"]]
            meta = [
                f'{{"width":{width},"height":{height}}}' for _ in range(len(pdf))
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "payload": out,
                    "meta": meta,
                }
            )

    return media.mapInPandas(run, schema=MEDIA_SCHEMA)


def curate_media(
    media: DataFrame,
    decoder="jpeg",
    min_width: int = 0,
    min_height: int = 0,
    dedup: bool = True,
    dim: int = 64,
    exif: bool = False,
    exif_where: str | None = None,
) -> tuple:
    """The media analog of `clean_corpus` (clean.py): returns
    (curated, report) where `curated` carries every payload that
    survived the pipeline plus its pooled feature vector and decoded
    dimensions, and `report` is the per-stage attrition frame
    (stage, rows_in, rows_out).

    Stages:
    1. decode — payloads the seam decoder rejects are DROPPED, not
       raised (corrupt/truncated/wrong-format files are a fact of
       scraped corpora); decoded width/height ride along;
    2. size — drop below min_width x min_height (thumbnail filter);
    2b. exif (``exif=True``, r10) — parse_exif's APP1 marker walk
       rides the SAME decode pass (the payload bytes are already in
       hand), emitting exif_make/_model/_orientation/_datetime/
       _datetime_original/_has_gps columns (all null when absent);
       ``exif_where`` then applies a SQL predicate over them as a
       counted attrition stage (e.g. "exif_datetime IS NOT NULL AND
       NOT exif_has_gps" — the publish-safety filter);
    3. dedup — exact content dedup on md5(payload), keep lowest id
       (same winner rule as pipeline.dedup.exact_dedup);
    4. features — pool_features over the decoded array (dim floats).

    Scale shape: decode+size+features are ONE mapInPandas pass over
    the caller's lineage (dropped rows come back as null-width MARKER
    rows, so the decode-stage in/out counts need no second pass over
    the input); dedup is ONE min_by hash aggregate on the 16-byte
    md5(payload) key — map-side partial, no sort, the exact_dedup
    shape, never a payload-carrying window sort. Both the decode
    output and the deduped result are materialized, so the report's
    counts and the caller's consumption each read a lineage-cut copy
    instead of re-running decode or the dedup shuffle."""
    fn = _resolve_decoder(decoder)
    if fn is None:
        raise ValueError("curate_media needs a real decoder, not 'fake'")
    if exif_where is not None and not exif:
        raise ValueError("exif_where requires exif=True")
    exif_cols = (
        "exif_make", "exif_model", "exif_orientation", "exif_datetime",
        "exif_datetime_original", "exif_has_gps",
    )

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = {"media_id": [], "kind": [], "payload": [], "width": [],
                   "height": [], "feature": []}
            if exif:
                out.update({c: [] for c in exif_cols})

            def exif_row(raw):
                if not exif:
                    return
                try:
                    d = parse_exif(raw) if raw is not None else None
                except Exception:
                    d = None
                out["exif_make"].append(d["make"] if d else None)
                out["exif_model"].append(d["model"] if d else None)
                out["exif_orientation"].append(
                    d["orientation"] if d else None
                )
                out["exif_datetime"].append(d["datetime"] if d else None)
                out["exif_datetime_original"].append(
                    d["datetime_original"] if d else None
                )
                out["exif_has_gps"].append(d["has_gps"] if d else None)

            for mid, kind, payload in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"]
            ):
                try:
                    raw = bytes(payload)  # NULL payload -> drop, not raise
                    d = fn(raw)
                    arr = d["array"]
                except Exception:
                    # stage 1: undecodable -> a null-width marker row
                    # (counted as input, filtered as decode attrition)
                    out["media_id"].append(mid)
                    out["kind"].append(kind)
                    out["payload"].append(None)
                    out["width"].append(None)
                    out["height"].append(None)
                    out["feature"].append(None)
                    exif_row(None)
                    continue
                w = int(d.get("width", arr.shape[1] if arr.ndim > 1 else len(arr)))
                h = int(d.get("height", arr.shape[0]))
                out["media_id"].append(mid)
                out["kind"].append(kind)
                out["payload"].append(raw)
                out["width"].append(w)
                out["height"].append(h)
                out["feature"].append(pool_features(arr, dim).tolist())
                exif_row(raw)
            yield pd.DataFrame(out)

    decoded_fields = [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("payload", BinaryType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("feature", ArrayType(FloatType())),
    ]
    if exif:
        decoded_fields += [
            StructField("exif_make", StringType()),
            StructField("exif_model", StringType()),
            StructField("exif_orientation", IntegerType()),
            StructField("exif_datetime", StringType()),
            StructField("exif_datetime_original", StringType()),
            StructField("exif_has_gps", BooleanType()),
        ]
    decoded_schema = StructType(decoded_fields)
    from functime_spark.materialize import materialize

    # ONE decode pass over the caller's lineage emits survivors AND
    # drop markers; the lineage cut is LAZY (r11) — the fused
    # attrition aggregate below computes and pins it, so every later
    # consumer reads the pinned rows and nothing ever re-decodes
    decoded = materialize(
        media.mapInPandas(run, schema=decoded_schema), eager=False
    )
    # r11: ONE aggregate yields every attrition counter (the previous
    # shape paid a separate count() action per stage — decode, size,
    # exif — over the same pinned frame)
    valid_pred = F.col("width").isNotNull()
    sized_pred = valid_pred & (F.col("width") >= min_width) & (
        F.col("height") >= min_height
    )
    aggs = [
        F.count(F.lit(1)).alias("__n_in"),
        F.sum(valid_pred.cast("long")).alias("__n_dec"),
        F.sum(sized_pred.cast("long")).alias("__n_sized"),
    ]
    if exif_where is not None:
        # .where() accepts SQL strings; the fused aggregate needs a
        # Column — normalize once, use everywhere below
        if isinstance(exif_where, str):
            exif_where = F.expr(exif_where)
        aggs.append(
            F.sum((sized_pred & exif_where).cast("long")).alias("__n_exif")
        )
    stats = decoded.agg(*aggs).first()
    n_in = int(stats["__n_in"])
    n_dec = int(stats["__n_dec"] or 0)
    n_sized = int(stats["__n_sized"] or 0)
    sized = decoded.where(sized_pred)
    exif_stage = None
    n_pre_dedup = n_sized
    if exif_where is not None:
        sized = sized.where(exif_where)
        n_pre_dedup = int(stats["__n_exif"] or 0)
        exif_stage = ("exif", n_sized, n_pre_dedup)
    if dedup:
        # exact_dedup winner rule (min media_id per distinct payload),
        # r11 shape: the key aggregate carries ONLY (md5, min id) —
        # map-side combined, hash-based — and the winning rows attach
        # by a media_id semi-join. The previous min_by(struct(*cols))
        # aggregate hauled full payload rows through a SortAggregate
        # (struct buffers are not hash-aggregable), sorting image
        # bytes twice per shuffle; now payloads cross exactly one
        # hash exchange and never enter an aggregation buffer.
        keep_ids = (
            sized.groupBy(F.md5("payload").alias("__k"))
            .agg(F.min("media_id").alias("media_id"))
            .select("media_id")
        )
        winner = sized.join(keep_ids, on="media_id", how="left_semi")
        curated = materialize(winner, eager=False)
    else:
        curated = sized
    n_out = curated.count()
    spark = media.sparkSession
    rows = [("decode", n_in, n_dec), ("size", n_dec, n_sized)]
    if exif_stage is not None:
        rows.append(exif_stage)
    rows.append(("dedup", n_pre_dedup, n_out))
    report = spark.createDataFrame(
        rows, "stage string, rows_in long, rows_out long"
    )
    return curated, report


# ---------------------------------------------------------------------------
# Video near-duplicate detection (r11) — per-frame dHash sequences +
# frame-offset voting: the video member of the dedup triad next to the
# image tier (dhash_near_dups) and the audio constellation tier
# (audio.audio_near_dups). Re-encoded / trimmed / re-muxed copies of a
# clip keep their per-frame perceptual hashes, so aligned frame-hash
# matches pile up at one temporal offset — the same decision rule the
# audio tier uses (Wang-style vote argmax), with dHash as the frame
# signature instead of spectral landmarks.
# ---------------------------------------------------------------------------


def video_dhash(
    media: DataFrame, every_n: int = 1, hash_size: int = 8
) -> DataFrame:
    """(media_id, frame_idx, phash) per SAMPLED frame of each MJPEG-AVI
    payload — one mapInPandas pass; only every `every_n`-th frame is
    JPEG-decoded (decode_mjpeg_avi never touches skipped frames), and
    `frame_idx` is the ORIGINAL container index (j * every_n) so
    offsets stay in true frame units under sampling. Undecodable
    payloads emit no rows (the curate_media drop contract).

    r11 optimization: narrow batch inputs rebalance before the kernel
    (spread_for_cpu — only a narrow input moves): per-frame JPEG decode is
    the most expensive per-row kernel in the repo, and a one-row-group
    parquet source would serialize it onto one core (guide §2.5)."""
    from functime_spark.pipeline._util import spread_for_cpu
    from functime_spark.pipeline.mjpeg import decode_mjpeg_avi

    media = spread_for_cpu(media)

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids, idxs, hashes = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    d = decode_mjpeg_avi(bytes(payload), every_n=every_n)
                except Exception:
                    continue
                for j, fr in enumerate(d["frames"]):
                    ids.append(mid)
                    idxs.append(j * every_n)
                    hashes.append(_dhash_array(fr, hash_size))
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "phash": hashes}
            )

    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("frame_idx", LongType()),
            StructField("phash", LongType()),
        ]
    )
    return media.mapInPandas(run, schema=schema)


def video_near_dups(
    media: DataFrame,
    every_n: int = 1,
    hash_size: int = 8,
    max_hamming: int = 6,
    band_bits: int = 16,
    max_bucket_size: int = 512,
    min_matches: int = 3,
) -> DataFrame:
    """Near-duplicate VIDEO pairs with frame-offset voting: per-frame
    dHash -> banded hash join (the image tier's LSH shape, frame rows
    instead of image rows) -> distinct matched frame pairs within
    `max_hamming` -> votes binned by frame offset idx_a - idx_b ->
    each pair keeps its best offset (count DESC, offset ASC) and
    passes with >= `min_matches` aligned frame matches. Returns
    (id_a, id_b, offset, n_matches).

    Scale shape: fingerprinting is row-local and sampling-aware
    (`every_n` — a daily crawl hashes every Nth frame, never decodes
    the rest); the only corpus-wide shuffle is the banded candidate
    stage with per-bucket caps (a title-card frame hash shared by
    half the corpus is boilerplate, not evidence); the vote aggregate
    and the associative struct-MAX argmax both combine map-side.
    Candidate pairs track shared-frame-hash counts, never corpus**2.

    The candidate stage is _bucket_pairs, shared with the minhash,
    simhash, dhash and audio tiers: phash/frame_idx ride the item
    struct (the Hamming verify is a pure projection, no join back),
    and its single consumer reads the decode pass exactly once, so
    the signatures need no materialize."""
    from functime_spark.pipeline.dedup import (
        _best_offset,
        _bucket_pairs,
        _hamming,
        bit_band_rows,
    )

    sigs = video_dhash(media, every_n, hash_size)
    banded = bit_band_rows(sigs, "phash", band_bits)
    matched = (
        _bucket_pairs(
            banded,
            ["band", "band_val"],
            max_bucket_size,
            ["media_id", "frame_idx", "phash"],
        )
        .filter(F.col("a.media_id") < F.col("b.media_id"))
        .filter(_hamming("phash") <= max_hamming)
        .select(
            F.col("a.media_id").alias("id_a"),
            F.col("b.media_id").alias("id_b"),
            F.col("a.frame_idx").alias("fa"),
            F.col("b.frame_idx").alias("fb"),
        )
        # a frame pair within hamming surfaces once per shared band —
        # dedup BEFORE voting or multi-band matches overweight
        .distinct()
    )
    votes = matched.groupBy(
        "id_a", "id_b", (F.col("fa") - F.col("fb")).alias("offset")
    ).agg(F.count(F.lit(1)).alias("n_matches"))
    return _best_offset(votes, min_matches)
