"""SparkSession builder tuned for this engine.

Local tests run on ``local[N]`` (single JVM), but every setting here is
chosen for the 1000-executor / 100 TB posture and merely *also* works
locally:

- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  dynamic join-strategy demotion replace hand-tuned partition counts at
  scale (the reference's analogue is its capacity-bounded parallelism,
  reference Orchestrations/BlobStagingOrchestration.cs:326-338).
- ``autoBroadcastJoinThreshold`` raised to 64 MB: the dimension tables of
  the star schema (region/nation/customer/supplier/part at any SF) stay
  broadcast even when statistics are stale.
- UTC session timezone: parquet timestamps compare bit-identically with
  the DuckDB oracle and with any other engine.
- Arrow enabled for the pandas-UDF paths (extensions use vectorized UDFs
  only; no row-at-a-time Python UDFs anywhere in the engine).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# At 100 TB a fixed shuffle-partition count is always wrong; AQE coalesces
# from a deliberately-high initial number.  Locally the defaults follow
# the machine: its core count, and half of physical RAM for the driver
# JVM (which in local mode is the whole cluster).
_DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
_DEFAULT_DRIVER_MEM = (
    f"{max(1, os.sysconf('SC_PAGE_SIZE') * os.sysconf('SC_PHYS_PAGES') // 2**31)}g"
)


def build_session(
    app_name: str = "mirror-lake-kusto-spark",
    master: str | None = None,
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpus or _DEFAULT_CPUS
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalescing floor (minPartitionSize, default 1 MB) caps
        # post-shuffle parallelism at totalShuffleBytes/1MB no matter
        # how compute-heavy the downstream stage is: any shuffle under
        # cores x 1 MB under-parallelizes.  The dedup/similarity
        # family's signature stages (tiny shuffle bytes, heavy per-doc
        # CPU: shingle + hash + MinHash sweep) ran at 10/32 cores and
        # measured 1.4-2.1x slower for it at the 10x corpus (r13).
        # 64 KB keeps AQE's parallelism-first behavior honest; at real
        # shuffle volumes totalBytes/parallelism >> 64 KB and the
        # advisory size governs exactly as before (scale-safe, not a
        # local tune).
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION", "64k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # bound writer output files: one giant unsplittable parquet from
        # a hot partition is as bad as a million tiny ones (K2 analogue)
        .config("spark.sql.files.maxRecordsPerFile", str(5_000_000))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _DEFAULT_DRIVER_MEM),
        )
        .config("spark.sql.parquet.compression.codec", "snappy")
        # INT96 (legacy default) writes NO column statistics, which
        # blanks min/max data skipping on timestamp columns; µs is the
        # modern parquet spec type and carries stats
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.enabled", "false")
        # pin Python worker reuse explicitly (default-true, but the
        # Arrow-UDF families' latency depends on it — a fresh worker
        # per stage re-pays interpreter+import startup; r7-documented
        # similarity_topk_ivf variance traces to worker churn)
        .config("spark.python.worker.reuse", "true")
        .config("spark.sql.streaming.schemaInference", "true")
        # the ContextCleaner that releases shuffle files / broadcast
        # blocks is GC-driven; on a large heap the driver may not GC
        # for a long time, so a long-lived session (streaming service,
        # benchmark sweep) accumulates dead blocks that tax the block
        # manager and slow later queries.  Default is 30min — far too
        # lazy for a session running hundreds of queries.
        .config("spark.cleaner.periodicGC.interval", "2min")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def get_or_create(spark: SparkSession | None = None) -> SparkSession:
    """Reuse an active session (the driver passes one in) or build ours."""
    if spark is not None:
        return spark
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    return build_session()
