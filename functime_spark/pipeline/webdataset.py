"""WebDataset-style tar-shard sink/source for media/document payloads
— stdlib ``tarfile`` inside ``mapInPandas``, no external packages.

The WebDataset convention (public: webdataset/webdataset, used by
most large-scale multimodal training loaders) stores samples as
consecutive tar entries that share a basename: ``{key}.jpg`` +
``{key}.json`` + ... . Shards are plain .tar files a dataloader
streams sequentially — the I/O pattern object stores like best.

Scale shape: ``write_webdataset`` assigns each row a shard by
deterministic hash (``md5(key) % n_shards`` — reproducible under
re-partitioning and retries), repartitions BY SHARD so one task owns
one shard file, and each task streams its rows through a single
tarfile handle — no driver involvement, no per-sample small files,
shard count chosen by the caller to match loader parallelism.
``read_webdataset`` rides Spark's ``binaryFile`` source (one row per
shard, partition-parallel) and explodes tar members back into
(key, ext, payload) rows inside the Arrow batch.

Reference parity: the reference has no media sink; this is
beyond-reference surface sized for the 100 TB training-data story.
"""

from __future__ import annotations

import io
import os
import tarfile
import warnings
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from functime_spark.pipeline._util import _cluster_parallelism

# binaryFile materializes one whole shard per row: hard 2 GiB source
# limit, full-shard task memory. Warn well under it (see
# write_webdataset's scale_wall).
SHARD_BYTES_WALL = 1 << 30


def write_webdataset(
    samples: DataFrame,
    path: str,
    n_shards: int = 16,
    key_col: str = "key",
    prefix: str = "shard",
    max_shard_bytes: int = SHARD_BYTES_WALL,
    scale_wall: str = "warn",
    compression: str | None = None,
) -> DataFrame:
    """Write (key, ext, payload) rows as ``{prefix}-{i:05d}.tar``
    shards under `path`; multiple rows sharing a key (e.g. ``42.jpg``
    + ``42.json``) land CONSECUTIVELY in the same shard, preserving
    the WebDataset sample-grouping contract. Returns the written
    manifest (shard, n_members, n_bytes, n_raw_bytes) — one row per
    shard; n_bytes is the on-disk file size, n_raw_bytes the EXACT
    UNCOMPRESSED tar stream (headers + 512-padded payloads + the
    two-zero-block end-of-archive trailer, blocked to the 10240 B
    record size — for compression=None it equals n_bytes). The
    write action runs EXACTLY ONCE inside this call and the returned
    manifest is a small local DataFrame: repeated actions on it
    (count + collect + joins) can never re-run the shard write (the
    r7-advice lazy-side-effect foot-gun).

    Shard sizing wall (the knn scale-wall recipe): `read_webdataset`
    rides Spark's binaryFile source, which materializes one WHOLE
    shard per row — a hard 2 GiB limit and full-shard task memory. If
    any written shard's UNCOMPRESSED tar bytes exceed
    ``max_shard_bytes`` (default 1 GiB — the wall guards what a read
    task must hold in memory, which compression does not shrink),
    ``scale_wall='warn'`` (default) emits a warning with the n_shards
    that would bring shards under the wall, ``'error'`` raises, and
    ``'ignore'`` silences (for sinks consumed by a streaming tar
    loader rather than read_webdataset).

    ``compression='gz'`` writes ``.tar.gz`` shards with deterministic
    gzip headers (empty filename, mtime=0 — same retry-stable-bytes
    contract as the tar members); read_webdataset auto-detects via
    tarfile's transparent mode.

    Layout notes for 100 TB: one output file per shard task (no
    small-file explosion), shard assignment is a content hash of the
    key (stable under retries — a re-executed task rewrites the same
    shard byte-for-byte: the within-shard sort orders by (key, ext,
    md5(payload)) so even duplicate (key, ext) rows have one order,
    and each task writes to a temp name and atomically renames at
    close, so a speculative or retried attempt can never interleave
    with another's partial file).

    Filesystem contract: tasks open `path` with plain tarfile, so it
    must be visible to every executor — local disk in local mode, a
    shared/fuse-mounted filesystem (NFS, Lustre, gcsfuse/s3-fuse) on a
    cluster. Writing straight to an object-store URI needs a Hadoop-FS
    streaming variant; this one keeps the stdlib-only contract."""
    if compression not in (None, "gz"):
        raise ValueError(
            f"unsupported compression {compression!r} (None or 'gz')"
        )
    cols = set(samples.columns)
    for c in (key_col, "ext", "payload"):
        if c not in cols:
            raise ValueError(f"write_webdataset needs a '{c}' column")
    os.makedirs(path, exist_ok=True)
    shard = (
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10)
        .cast("long") % n_shards
    ).alias("__shard")
    ready = (
        samples.select(F.col(key_col).cast("string").alias("__key"),
                       F.col("ext"), F.col("payload"), shard)
        .repartition(n_shards, "__shard")
        .sortWithinPartitions(
            "__shard", "__key", "ext", F.md5(F.col("payload"))
        )
    )

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        import uuid as _uuid

        handles: dict = {}
        counts: dict = {}
        closers: dict = {}
        attempt = _uuid.uuid4().hex
        for pdf in batches:
            if len(pdf) == 0:
                continue
            for key, ext, payload, sh in zip(
                pdf["__key"], pdf["ext"], pdf["payload"], pdf["__shard"]
            ):
                sh = int(sh)
                if sh not in handles:
                    ext_sfx = ".tar.gz" if compression == "gz" else ".tar"
                    fname = os.path.join(path, f"{prefix}-{sh:05d}{ext_sfx}")
                    if compression == "gz":
                        import gzip as _gzip

                        raw = open(f"{fname}.{attempt}.tmp", "wb")
                        # filename='' + mtime=0 keep gzip headers
                        # deterministic across retries (same contract
                        # as the tar member mtime=0 below)
                        gz = _gzip.GzipFile(
                            filename="", mode="wb", fileobj=raw, mtime=0
                        )
                        handles[sh] = tarfile.open(fileobj=gz, mode="w")
                        closers[sh] = (gz, raw)
                    else:
                        handles[sh] = tarfile.open(
                            f"{fname}.{attempt}.tmp", "w"
                        )
                    counts[sh] = [fname, 0, 0, 0]
                data = bytes(payload)
                info = tarfile.TarInfo(name=f"{key}.{ext}")
                info.size = len(data)
                info.mtime = 0  # deterministic bytes across retries
                handles[sh].addfile(info, io.BytesIO(data))
                counts[sh][1] += 1
                # raw (uncompressed) tar bytes: 512B header + data
                # padded to 512 — what a reader must hold in memory
                counts[sh][3] += 512 + ((len(data) + 511) // 512) * 512
        for sh, h in handles.items():
            h.close()
            # tar end-of-archive: two 512B zero blocks, then the whole
            # stream padded up to the 10240B record size — add it so
            # n_raw_bytes is the EXACT uncompressed stream size a
            # reader materializes, not just headers+payload padding
            counts[sh][3] = -(-(counts[sh][3] + 1024) // 10240) * 10240
            for layer in closers.get(sh, ()):
                layer.close()
            # atomic publish: last completed attempt wins with
            # identical bytes (deterministic member order above)
            os.replace(f"{counts[sh][0]}.{attempt}.tmp", counts[sh][0])
            # manifest n_bytes = the tar FILE size (payload bytes +
            # tar header/padding overhead), not the payload sum
            counts[sh][2] = os.path.getsize(counts[sh][0])
        yield pd.DataFrame(
            {
                "shard": [v[0] for v in counts.values()],
                "n_members": [v[1] for v in counts.values()],
                "n_bytes": [v[2] for v in counts.values()],
                "n_raw_bytes": [v[3] for v in counts.values()],
            }
        )

    schema = StructType(
        [
            StructField("shard", StringType()),
            StructField("n_members", LongType()),
            StructField("n_bytes", LongType()),
            StructField("n_raw_bytes", LongType()),
        ]
    )
    # ONE action here; the manifest is tiny (one row per shard) so a
    # local re-createDataFrame severs the lineage back to the write
    rows = ready.mapInPandas(run, schema=schema).collect()
    # guard on the UNCOMPRESSED tar bytes (what a read task must hold
    # in memory) — with compression='gz' the file size can be 10x
    # smaller than the decompressed shard the 2 GiB bound applies to
    big = [(r["shard"], r["n_raw_bytes"]) for r in rows
           if r["n_raw_bytes"] > max_shard_bytes]
    if big and scale_wall != "ignore":
        total = sum(r["n_raw_bytes"] for r in rows)
        suggest = max(n_shards, -(-total // max_shard_bytes))
        msg = (
            f"write_webdataset: {len(big)} shard(s) exceed "
            f"max_shard_bytes={max_shard_bytes} (largest "
            f"{max(b for _, b in big)} UNCOMPRESSED tar bytes). "
            f"read_webdataset rides "
            f"binaryFile, which loads a WHOLE shard per row (hard 2 GiB "
            f"limit, full-shard task memory) — use n_shards>={suggest}, "
            f"read back via read_webdataset_ranges (member-granular "
            f"seek reads, no shard-size bound; uncompressed shards "
            f"only), or scale_wall='ignore' for streaming-loader-only "
            f"sinks."
        )
        if scale_wall == "error":
            raise ValueError(msg)
        warnings.warn(msg, stacklevel=2)
    return samples.sparkSession.createDataFrame(rows, schema=schema)


def read_webdataset(spark, path: str, pattern: str = "*.{tar,tar.gz}") -> DataFrame:
    """Explode tar shards back into (key, ext, payload, shard) rows:
    Spark's binaryFile source reads one shard per row (partition-
    parallel across shards), tar members unpack inside the Arrow
    batch.

    Scale bound: binaryFile materializes each WHOLE shard as one row
    — a hard 2 GiB per-file limit and full-shard memory in the
    reading task. Keep shards under ~1 GiB (write_webdataset's
    scale_wall enforces this at write time); parallelism is capped at
    the shard count, so size n_shards to the loader/cluster width.
    For shards past the wall, `read_webdataset_ranges` seek-reads at
    member granularity with no shard-size bound (uncompressed only —
    this full-stream path is what handles .tar.gz)."""
    shards = spark.read.format("binaryFile").load(
        os.path.join(path, pattern)
    ).select("path", "content")

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = {"key": [], "ext": [], "payload": [], "shard": []}
            for p, content in zip(pdf["path"], pdf["content"]):
                with tarfile.open(fileobj=io.BytesIO(bytes(content))) as tf:
                    for m in tf.getmembers():
                        if not m.isfile():
                            continue
                        base, _, ext = m.name.rpartition(".")
                        out["key"].append(base)
                        out["ext"].append(ext)
                        out["payload"].append(tf.extractfile(m).read())
                        out["shard"].append(p)
            yield pd.DataFrame(out)

    schema = StructType(
        [
            StructField("key", StringType()),
            StructField("ext", StringType()),
            StructField("payload", BinaryType()),
            StructField("shard", StringType()),
        ]
    )
    return shards.mapInPandas(run, schema=schema)


def index_webdataset(spark, path: str, pattern: str = "*.tar") -> DataFrame:
    """Member index for uncompressed tar shards: one row per file
    member — (shard, key, ext, offset, size), where `offset` is the
    member's DATA start inside the shard and `size` its byte length.

    Built by walking tar HEADERS only: each task opens its shard with
    a plain seekable file handle and iterates `tarfile` in streaming
    mode, which reads each 512 B header and SEEKS past the payload —
    per-task memory is a header buffer, never the shard (so indexing
    a 100 GiB shard is fine). Gzip shards are rejected: DEFLATE
    streams have no random access, so range reads can't apply —
    re-shard uncompressed or use read_webdataset's full-stream path.

    Shard discovery is a driver-side glob of NAMES only (one string
    per shard — the same tiny-manifest shape write_webdataset
    returns); the bytes are only ever touched by executors.

    DEPLOYMENT BOUND: discovery uses a local glob and each task opens
    its shard with a plain ``open()``, so index_webdataset (and
    read_webdataset_ranges built on it) requires the shard paths to
    resolve on EVERY executor — a shared POSIX filesystem (NFS/Lustre/
    local mode). On object stores (s3://, hdfs://, abfs://) use
    `read_webdataset`, which rides Hadoop binaryFile and works on any
    Hadoop-compatible store (at the cost of its whole-shard-per-row
    2 GiB bound). Porting the range reader to object stores means
    routing discovery + reads through the Hadoop FS API (or fsspec)
    — the (offset, size) index contract itself is storage-agnostic."""
    import glob as _glob

    files = sorted(_glob.glob(os.path.join(path, pattern)))
    if not files:
        raise FileNotFoundError(f"no shards match {path}/{pattern}")
    for f in files:
        if f.endswith(".gz"):
            raise ValueError(
                "index_webdataset needs seekable (uncompressed) tar "
                f"shards; {f} is gzip — use read_webdataset for .tar.gz"
            )
    shards = spark.createDataFrame(
        [(f,) for f in files], "shard string"
    ).repartition(len(files))

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = {"shard": [], "key": [], "ext": [], "offset": [],
                   "size": []}
            for p in pdf["shard"]:
                with open(p, "rb") as fh, tarfile.open(
                    fileobj=fh, mode="r:"
                ) as tf:
                    for m in tf:  # streaming: header read + seek-skip
                        if not m.isfile():
                            continue
                        base, _, ext = m.name.rpartition(".")
                        out["shard"].append(p)
                        out["key"].append(base)
                        out["ext"].append(ext)
                        out["offset"].append(m.offset_data)
                        out["size"].append(m.size)
            yield pd.DataFrame(out)

    schema = StructType(
        [
            StructField("shard", StringType()),
            StructField("key", StringType()),
            StructField("ext", StringType()),
            StructField("offset", LongType()),
            StructField("size", LongType()),
        ]
    )
    return shards.mapInPandas(run, schema=schema)


def read_webdataset_ranges(
    spark,
    path: str,
    pattern: str = "*.tar",
    index: DataFrame | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """Member-range WebDataset reader (r9): same output contract as
    `read_webdataset` — (key, ext, payload, shard) rows — but WITHOUT
    its binaryFile bounds. Instead of materializing a whole shard per
    row (hard 2 GiB source limit, full-shard task memory), members
    are repartitioned at MEMBER granularity off `index_webdataset`'s
    header walk and each task seek-reads only its own byte ranges —
    per-task memory is bounded by its largest member, parallelism by
    the member count rather than the shard count. This is the read
    path for shards past write_webdataset's scale wall (and the 100 TB
    shape: a 1000-executor cluster reading 500 shards of 200 GiB
    keeps every core busy and never holds a shard in memory).

    `index` accepts a previously materialized index (e.g. persisted
    next to the shards) to skip the header walk; `partitions` defaults
    to one per core slot, the rule of every Python stage
    (`pipeline._util._cluster_parallelism`). Uncompressed shards only —
    gzip has no random access (see index_webdataset). Rows within a
    task are read in (shard, offset) order, so each file handle moves
    strictly forward — sequential I/O per task, one open per
    (task, shard) pair.

    Shares index_webdataset's deployment bound: shard paths must
    resolve on every executor (shared POSIX filesystem). On object
    stores use `read_webdataset` (Hadoop binaryFile) instead."""
    idx = index if index is not None else index_webdataset(
        spark, path, pattern
    )
    # the decode below is a Python stage: one task per core slot
    n = partitions or _cluster_parallelism(idx)
    # member-granular round-robin: big shards fan out across tasks
    parts = idx.repartition(n)

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values(["shard", "offset"])
            payloads = []
            handle, hpath = None, None
            try:
                for p, off, sz in zip(
                    pdf["shard"], pdf["offset"], pdf["size"]
                ):
                    if p != hpath:
                        if handle is not None:
                            handle.close()
                        handle, hpath = open(p, "rb"), p
                    handle.seek(int(off))
                    payloads.append(handle.read(int(sz)))
            finally:
                if handle is not None:
                    handle.close()
            yield pd.DataFrame(
                {
                    "key": pdf["key"].tolist(),
                    "ext": pdf["ext"].tolist(),
                    "payload": payloads,
                    "shard": pdf["shard"].tolist(),
                }
            )

    schema = StructType(
        [
            StructField("key", StringType()),
            StructField("ext", StringType()),
            StructField("payload", BinaryType()),
            StructField("shard", StringType()),
        ]
    )
    return parts.mapInPandas(run, schema=schema)
