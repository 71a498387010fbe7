"""SparkSession construction with the engine's standard configuration."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from lsh_qd_spark.config import RuntimeConfig


def _resolve_master(master: str | None, env) -> str | None:
    """Only force a master when one was EXPLICITLY requested (parameter or
    SPARK_GRAFT_MASTER env). Under spark-submit — detectable because the
    JVM gateway that launched this python sets PYSPARK_GATEWAY_PORT — a
    code-set master OVERRIDES --master, silently turning a cluster
    submission into local[*] on the driver. Bare-python callers (bench,
    notebooks) still get the local[*] convenience default."""
    master = master or env.get("SPARK_GRAFT_MASTER")
    if not master and "PYSPARK_GATEWAY_PORT" not in env:
        master = "local[*]"
    return master


def get_spark(
    app_name: str = "lsh_qd_spark",
    master: str | None = None,
    runtime: RuntimeConfig | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the dedup pipeline.

    AQE is on (runtime coalescing + skew-join splitting for the candidate
    self-join, SURVEY.md §4); Arrow is on for pandas-UDF kernels; timezone is
    pinned UTC for DuckDB-oracle comparability.
    """
    runtime = runtime or RuntimeConfig()
    master = _resolve_master(master, os.environ)
    # Same spark-submit detection as _resolve_master: under a JVM gateway
    # the LOCAL-MACHINE tuning below must not leak into cluster runs.
    submitted = "PYSPARK_GATEWAY_PORT" in os.environ
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(runtime.shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE SMJ→shuffled-hash conversion (optimization guide §3.1):
        # runtime-gated per partition, so it only fires when the build
        # side's local map genuinely fits (64 MB/task) — measured on the
        # 3M-page dedup job it converts all 8 verify-stage SortMergeJoins
        # to ShuffledHashJoins and drops the plan's Sort nodes 18 → 2
        # (the two text-fetch joins stop sorting ~1M candidate texts
        # per side). Env-overridable for bigger-executor deployments.
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_THRESHOLD", "64m"),
        )
        # zstd shuffle/spill compression (guide §2.3): measured −36%
        # shuffle bytes written on the 3M-page dedup job (1926 → 1237 MB,
        # the text-heavy verify shuffles compress far better than lz4) at
        # no measurable CPU cost; at cluster scale shuffle bytes are
        # network, so the ratio is the win. Env-overridable.
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_GRAFT_IO_CODEC", "zstd"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(runtime.arrow_max_records_per_batch),
        )
        .config("spark.ui.enabled", "false")
        # managed tables (bucketed index, LSHIndex.hash_bucketed) must not
        # land inside the repo checkout
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE_DIR", "/tmp/lsh_qd_spark_warehouse"
            ),
        )
    )
    if not submitted:
        # driver.memory is only honored when THIS process launches the JVM
        # gateway; under spark-submit the heap is fixed before Python runs,
        # so setting it here would make spark.conf REPORT a size the
        # driver does not have (pass --driver-memory there instead).
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        )
    # Local-machine defaults, applied only when NOT spark-submitted (or
    # when the operator explicitly sets the env knob):
    # - maxPartitionBytes=16m: local corpora are small relative to the
    #   128MB default split size — without this a ~600MB table scans with
    #   ~5 partitions and the narrow UDF chain (scan→signature) runs on 5
    #   of 32 cores. On a real cluster with TB inputs the 128MB default
    #   is right (16m would mean ~65k splits/TB of scheduler overhead).
    # - local.dir on tmpfs: this sandbox's disk is shared and slow;
    #   shuffle volumes here are far below RAM. On a real cluster
    #   spark.local.dir must stay on instance-local SSDs — tmpfs shuffle
    #   at TB scale evicts the page cache and then fails on space.
    mpb = os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES")
    if mpb or not submitted:
        builder = builder.config(
            "spark.sql.files.maxPartitionBytes", mpb or "16m"
        )
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir or not submitted:
        builder = builder.config(
            "spark.local.dir", local_dir or "/dev/shm/spark_local"
        )
    if master:
        builder = builder.master(master)
    for k, v in runtime.extra_confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
