"""SparkSession factory tuned for the panel workload.

Defaults are sized for local[N] testing but every knob is the one that
matters on a real cluster: AQE for runtime re-planning (skewed entities),
Arrow for the pandas-UDF tier, and shuffle partition count tracking
cores. On a 1000-executor cluster the same settings apply — only
`shuffle.partitions` should scale with total cores (AQE coalesces the
excess automatically).

`shuffle.partitions` sizes JVM shuffles only. Python-kernel stages
(grouped pandas UDFs, mapInPandas scans) are sized to the cores, one
task per slot (`pipeline._util._cluster_parallelism`): each Python
task pays a fixed worker start-up cost that 32 tiny tasks would
multiply.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_session(
    app_name: str = "functime-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 32)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        # reference semantics: Polars yields inf/NaN on zero-division
        # edge cases (variation_coefficient on a constant series, c3 on
        # short series); ANSI mode (Spark 4 default) hard-errors the
        # whole job instead. Non-ANSI returns NULL — "undefined", the
        # closest Spark equivalent — and keeps edge-case entities from
        # killing a 100-TB aggregate.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-partition reads of cached plans too: recursion
        # states / param frames are tiny after their aggregate and
        # should coalesce instead of keeping shuffle.partitions tasks
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # r11 (guide §3.1/§9): let the planner pick shuffled-hash join
        # when its size conditions hold — SMJ pays two per-partition
        # sorts that a hash build skips. Spark still only builds a
        # local map when the per-partition build side is provably
        # small (canBuildLocalHashMap), so the OOM guardrail stays.
        # Measured in-session A/B at sf0.1: resample+naive+smape
        # 1.233 -> 1.005 s, TPC-H Q5 star join 1.205 -> 1.081 s.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # parquet pushdown is on by default; pin it so a misconfigured
        # cluster profile can't silently disable the scan-level filters
        .config("spark.sql.parquet.filterPushdown", "true")
        # testdata events.ts is parquet TIMESTAMP(NANOS): read as long,
        # converted to micros timestamp in the events loader
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
