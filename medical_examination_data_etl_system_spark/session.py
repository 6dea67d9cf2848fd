"""SparkSession factory.

One place to encode the engine's execution posture:
- AQE on (runtime shuffle coalescing, skew-join splitting) — the 100 TB
  answer to skewed RECORD_ID / join keys — for batch, file and stream
  work. A served request list is a small batch: ``process_records``
  plans it in a clone of this session with AQE off
  (``pipeline.run.served_session``), which saves a job and a re-plan
  at every shuffle.
- Arrow on — every pandas-interop boundary (the Arrow-batched vector
  and media kernels) crosses via Arrow batches, not pickled rows. The
  served paths cross none: the LLM rewrite runs on the driver.
- UTC session timezone — parity with DuckDB oracle timestamps.
- a generated-class cache that holds a served request's classes, so a
  warm server compiles nothing per request.
- local cores, shuffle partitions and driver heap sized to the box
  unless the env says otherwise (cluster: the deployment overrides via
  spark-submit conf, these are defaults only).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_MAX_DEFAULT_HEAP_MB = 16 << 10


def default_driver_memory(phys_bytes: int) -> str:
    """Default driver heap for a box with ``phys_bytes`` of physical
    memory: 40 % of it in MiB, capped at 16g."""
    return f"{min(_MAX_DEFAULT_HEAP_MB, int(phys_bytes * 0.4) >> 20)}m"


def get_spark(
    app_name: str = "medical_examination_data_etl_system_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the session with the engine's standard conf."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))
    heap = default_driver_memory(os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE"))

    builder = (
        SparkSession.builder.appName(app_name)
        # Local mode runs executors inside the driver JVM, whose default
        # heap is 1 GiB — at 10× test volume that fails broadcast builds
        # and OOM-kills the JVM mid-query (observed in the sf1-equivalent
        # scale check). The cap is 16g: a much larger heap measurably
        # stalls early queries while the JVM grows into it (48g cost
        # ~30 s of first-query latency). The 40 % share leaves room for
        # the JVM's off-heap memory and the Python workers — a fixed 16g
        # heap on a 15 GB box got the JVM OOM-killed mid-suite. A real
        # cluster's spark-submit conf overrides this (it only applies at
        # JVM launch).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", heap))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Generated-class cache, static (fixed at session build). Counted
        # with CodegenMetrics (local[2]): a served request of 16 records
        # generates about 101-106 distinct classes and a pass of
        # perfbench's six analytics_mix queries about 132. The default of
        # 100 entries is smaller than either, so its LRU evicted every
        # class before the next request and each request recompiled
        # them all (0.7-0.9 s). 1,000 holds both with headroom.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
    )
    # Only force a master when none is configured (spark-submit on a real
    # cluster sets its own).
    if not os.environ.get("SPARK_MASTER") and "SPARK_CONNECT_MODE_ENABLED" not in os.environ:
        builder = builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
