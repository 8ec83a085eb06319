"""Shared pipeline internals.

One sizing rule for every Python-kernel stage (the grouped pandas UDF
feature and test kernels, the preprocessing group fits, holt_winters,
the knn Arrow scans, tokenisation, MinHash signatures, media
decode): `_TASKS_PER_SLOT` tasks per core slot, `defaultParallelism ×
_TASKS_PER_SLOT`. `spark.sql.shuffle.partitions` sizes JVM shuffles
only. Each Python task has a fixed cost in the worker that dwarfs
these kernels on small panels: pyspark 4.1.2 on Python 3.11 spends
0.2–0.25 s of worker CPU per task in `setup_spark_files` →
`importlib.invalidate_caches()`, which re-reads the central directory
of pyspark.zip once per cached zipimporter (4 vCPUs, cProfile of
`pyspark.worker.main`: 25.2 of 26.7 s). One task per slot keeps every
core busy and pays that cost once per core, not once per shuffle
partition (32 on the default session)."""

from __future__ import annotations

from pyspark.sql import DataFrame

# Python-kernel tasks per core slot. Interleaved bulk benchmark A/B,
# 4 vCPUs, 6 seeds: pass_s median 7.45 s at 1, 8.35 s at 2.
_TASKS_PER_SLOT = 1

# spread_for_cpu repartitions only an input at least this many times
# narrower than the target, so the round-robin exchange buys at least
# this factor of parallelism; a one-partition input moves whenever
# there are 2+ slots. 4 vCPUs, the 2-partition 10x stress corpus,
# warm minhash_dedup: left at 2 partitions (ratio 4) 12.9-14.7 s,
# spread to 4 (ratio 2) 7.7-9.2 s.
_NARROW_RATIO = 2


def _cluster_parallelism(df: DataFrame) -> int:
    """Partition target for a Python-kernel stage: defaultParallelism
    × _TASKS_PER_SLOT (the module docstring has the per-task cost that
    makes more tasks than slots a loss). Spark Connect has no
    sparkContext on the client — fall back to shuffle.partitions
    there."""
    spark = df.sparkSession
    try:
        return spark.sparkContext.defaultParallelism * _TASKS_PER_SLOT
    except Exception:  # Spark Connect: no sparkContext on the client
        pass
    try:
        # non-numeric values exist in the wild (e.g. 'auto' under
        # auto-optimized shuffle) — they must not crash the fallback
        return int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    except (TypeError, ValueError):
        return 200


def spread_groups(df: DataFrame, key_col: str) -> DataFrame:
    """Explicit hash repartition on the group key to
    `_cluster_parallelism` partitions, ahead of a Python-kernel
    groupBy().applyInPandas.

    AQE coalesces the shuffle feeding a group-map stage by BYTES
    (minPartitionSize), and per-entity panels are tiny in bytes but
    heavy in Python CPU — byte-coalescing serializes the whole scipy
    stage onto one task (measured 3.5x on the sf0.1 UDF feature pass).
    A repartition with an EXPLICIT partition count is exempt from AQE
    coalescing, and the downstream groupBy reuses the hash
    partitioning, so this costs no extra exchange. The count is one
    task per core slot, not shuffle.partitions: each Python task pays
    0.2–0.25 s of worker start-up (module docstring), so 32 tasks for 60
    entities cost more than the kernels. Streaming frames pass through
    (stateful ops manage their own shuffle)."""
    if df.isStreaming:
        return df
    return df.repartition(_cluster_parallelism(df), key_col)


def spread_for_cpu(df: DataFrame) -> DataFrame:
    """Rebalance a narrow input ahead of a CPU-dense projection.

    A compact parquet source (one row group) arrives as ONE partition,
    serializing work like the 32-lane minhash sweep or corpus
    tokenization onto a single core no matter the cluster size —
    parquet cannot split below row-group granularity, and AQE only
    rebalances SHUFFLE boundaries, not scan parallelism. Round-robin
    to `_cluster_parallelism` partitions (one task per core slot: each
    Python task pays 0.2–0.25 s of worker start-up, module docstring)
    only when the input is at least `_NARROW_RATIO`x narrower than
    that; an input with thousands of splits is left alone with zero
    added shuffle. Streaming frames pass through untouched (no .rdd on
    a stream)."""
    if df.isStreaming:
        return df
    target = _cluster_parallelism(df)
    try:
        n_in = df.rdd.getNumPartitions()
    except Exception:  # Spark Connect: no RDD API on the client
        return df
    if n_in * _NARROW_RATIO <= target:
        return df.repartition(target)
    return df
