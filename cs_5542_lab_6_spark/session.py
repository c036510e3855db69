"""SparkSession factory.

The reference keeps one shared Snowflake connection + MFA for every query
(reference: tools.py:8-9, agent.py:36-39); the Spark-native analogue is a
single tuned SparkSession reused across all operators.

All settings are chosen for the 100 TB design point but degrade gracefully
on local[N]:

- AQE on: runtime shuffle-partition coalescing, skew-join splitting and
  broadcast demotion replace hand-tuning per query.
- shuffle.partitions sized to cores locally; on a real cluster AQE
  coalesces from a higher initial number, so the setting is a floor not a
  cliff.
- Arrow on: every pandas_udf / toPandas boundary is columnar batch
  transfer, not pickled rows.
- Session timezone pinned to UTC so event-time semantics match the DuckDB
  oracle and are portable across clusters.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def default_driver_mem() -> str:
    """Driver heap when ``$SPARK_GRAFT_DRIVER_MEM`` is unset: a quarter of
    the host's physical RAM in whole GB, at least 1g. Local mode runs the
    executors inside this one JVM, and the Python workers, page cache and
    off-heap buffers share the rest of the host."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{max(1, phys // 4 // 1024**3)}g"


def get_spark(
    app_name: str = "cs_5542_lab_6_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    In local mode there is one JVM; ``spark.driver.memory`` must be set
    before JVM start, so we only apply it when constructing a fresh
    session. ``$SPARK_GRAFT_DRIVER_MEM`` overrides the host-derived
    default (``default_driver_mem``).
    """
    cpus = int(DEFAULT_CPUS)
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem()

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # --- parallelism -------------------------------------------------
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        # --- adaptive execution (runtime re-plan at scale) ---------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- columnar python boundary ------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- determinism / oracle parity ---------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # custom Python DataSource pushdown (sources/api_source.py
        # narrows its page range from idx predicates)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # --- scan sizing: 128MB splits is the parquet sweet spot ---------
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # --- parquet codec: zstd (guide §6) — smaller than snappy at
        # similar read speed; applies to everything the engine writes
        # (warehouse stages, streaming workdirs). Measured at sf0.1:
        # warehouse 97MB -> 56MB, cold build and warm-scan timings at
        # parity (see OPTIMIZATION_r16.md) — the win is I/O bytes, which
        # is the 100 TB bottleneck, not this VM's page cache.
        .config("spark.sql.parquet.compression.codec", "zstd")
        # --- broadcast threshold: dims (region/nation/supplier) broadcast
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- concurrent-job fairness: the warehouse build runs stage
        # builders from driver threads; under FIFO the critical-path
        # chains (iterative Lloyd/label-propagation, many small jobs)
        # queue head-of-line behind the bulk scan stages and stretch
        # 1.5-2x. FAIR round-robins task slots across concurrent jobs —
        # measured 29.5s -> 25s cold build at sf0.1 (interleaved A/B);
        # single-query latency is untouched (one job at a time == FIFO).
        .config("spark.scheduler.mode", "FAIR")
        # --- python-worker spawn resilience: the default 15s connect-back
        # bound is a LATENCY CEILING, not a sleep — under hypervisor
        # steal/storage bursts this VM has taken >15s to fork+exec a
        # Python daemon mid-suite, failing streaming queries with
        # "Timed out while waiting for the Python worker to connect
        # back" (observed r15, two tests under a concurrent load spike).
        # 120s costs nothing when healthy and rides out the noise window.
        .config("spark.python.authenticate.socketTimeout", "120s")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.driver.memory", driver_mem)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def clear_caches(spark: SparkSession) -> None:
    """Drop every cached relation (the shingle/entity/signature caches the
    corpus and dedup operators build per sf_dir).

    Spark's CacheManager dedupes cache() calls by logical plan, so within
    one sf_dir repeated registry sweeps reuse a single entry — but a
    long-lived session sweeping MANY sf_dirs accumulates one entry per
    distinct plan. Long-running hosts (bench loops, notebook sessions)
    should call this between corpora; storage is MEMORY_AND_DISK, so the
    cost of a stale entry is spill space, never an OOM."""
    spark.catalog.clearCache()
