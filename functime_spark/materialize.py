"""Spark-Connect-safe materialization, and the one caching rule.

Forecasting caches by one rule:

1. a frame one call re-reads is cached for that call by ``pinned``,
   which releases what it cached and leaves a caller's cache alone;
2. a fitted forecaster's state frames are never ``persist()``-ed
   (nothing would release them): they stay lazy, one aggregate deep,
   or are materialized;
3. ``materialize`` serves later calls that re-read a bounded plan:
   the backtest result, elite's bank states, the holt_winters kernel
   state and the GBT recursion; its blocks go when the frame does.

``materialize`` is the one lineage cut: ``DataFrame.localCheckpoint``
(block-manager persisted, no checkpoint dir), or, on a Spark Connect
server without that RPC, a parquet write and read-back, which also
cuts the lineage and re-enters every plan as one scan. A persist, by
contrast, keeps the full plan alive in the cache manager: across
iterative fits that grew until the session died. The fallback
directory is ``<spark.sql.warehouse.dir>/_functime_materialize/
<session-uuid>`` unless ``FUNCTIME_SPARK_MATERIALIZE_DIR`` is set;
its files live until it is cleaned like any checkpoint dir.
``FUNCTIME_SPARK_NO_LOCAL_CHECKPOINT=1`` forces the fallback (the test
suite runs every call site through it without a Connect server).
"""

from __future__ import annotations

import os
import uuid
from contextlib import contextmanager
from typing import Iterator

from pyspark import StorageLevel
from pyspark.sql import DataFrame

FORCE_FALLBACK = os.environ.get("FUNCTIME_SPARK_NO_LOCAL_CHECKPOINT", "") == "1"

_FALLBACK_BASE: str | None = None


def _fallback_path(spark) -> str:
    """One session-scoped base dir, one fresh subdir per materialize."""
    global _FALLBACK_BASE
    if _FALLBACK_BASE is None:
        base = os.environ.get("FUNCTIME_SPARK_MATERIALIZE_DIR")
        if not base:
            wh = spark.conf.get("spark.sql.warehouse.dir", "") or "/tmp"
            for prefix in ("file://", "file:"):
                if wh.startswith(prefix):
                    wh = wh[len(prefix):]
                    break
            base = f"{wh.rstrip('/')}/_functime_materialize"
        _FALLBACK_BASE = f"{base}/{uuid.uuid4().hex}"
    return f"{_FALLBACK_BASE}/{uuid.uuid4().hex}"


def _is_connect(spark) -> bool:
    """True for a Spark Connect client session (pyspark.sql.connect.*)."""
    return "connect" in type(spark).__module__


def _is_unsupported_rpc(exc: Exception) -> bool:
    """Connect-server capability errors only — NOT data-dependent job
    failures, which must propagate: an older server answers the
    localCheckpoint RPC with UNIMPLEMENTED / 'not supported', an older
    client lacks the method entirely."""
    if isinstance(exc, (AttributeError, NotImplementedError)):
        return True
    msg = str(exc).lower()
    return any(
        s in msg
        for s in ("unimplemented", "not supported", "unsupported", "not implemented")
    )


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Pin `df`'s values and cut its lineage.

    Classic session: localCheckpoint (``eager`` passed through) with
    NO fallback — a genuine job failure during the eager checkpoint
    (ANSI error, executor loss) propagates instead of being masked by
    a silent parquet re-execution (ADVICE r6). Spark Connect: try the
    localCheckpoint RPC; only a capability rejection (UNIMPLEMENTED /
    missing method on older servers or clients) falls back to the
    parquet round-trip — always eager, a true lineage cut, one scan in
    every downstream plan."""
    if not FORCE_FALLBACK:
        if not _is_connect(df.sparkSession):
            return df.localCheckpoint(eager=eager)
        try:
            return df.localCheckpoint(eager=eager)
        except Exception as exc:  # Connect server/client without the RPC
            if not _is_unsupported_rpc(exc):
                raise
    spark = df.sparkSession
    path = _fallback_path(spark)
    df.write.parquet(path)
    return spark.read.parquet(path)


@contextmanager
def pinned(df: DataFrame) -> Iterator[DataFrame]:
    """Cache `df` for the block unless it is cached already (the
    session's cache manager answers `storageLevel`, so a frame the
    caller persisted is used as it is), and release exactly what was
    cached on exit, also on a raise (MLlib's handlePersistence)."""
    if df.storageLevel != StorageLevel.NONE:
        yield df
        return
    df.persist()
    try:
        yield df
    finally:
        df.unpersist()
