"""SparkSession factory with scale-oriented defaults.

The sandbox runs a single JVM (``local[N]``); the configuration below
is nevertheless chosen for a 1000-executor cluster reading ~100 TB:

* AQE on (runtime shuffle coalescing + skew-join splitting) — hot web
  domains produce skewed keys, AQE splits oversized partitions.
* Arrow batches capped at 2k rows so a pandas-UDF batch of 512-token
  segments (up to ~131k candidate spans each, n(n+1)/2 at n=512 —
  reference caps segments at 512 subtokens, /root/reference/
  datautils.py:1371-1437) stays well inside executor memory.
* ``spark.sql.files.maxPartitionBytes`` left at default 128 MB: pages
  tables are wide (html binary) so a scan task stays ~O(100 MB).

Two environment variables are read: ``QIZNER_SPARK_MASTER`` (the
deployment's master address) and ``QIZNER_DRIVER_MEM``. Everything
else is a constant here or an explicit ``get_spark`` argument.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def ensure_scan_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition a NARROW source up to the session's
    default parallelism when the file layout under-splits it.

    A parquet file is only splittable at row-group boundaries, so a
    single-row-group file (or a gzip text file) pins every downstream
    map stage — Arrow passes, explodes, regex projections — to ONE
    task regardless of cluster size (guide §2.5 "input skew: one huge
    unsplittable file ... repartition immediately after the read").
    The repartition moves only the narrow source rows once; at real
    scale inputs arrive pre-split into >= parallelism partitions and
    this is a no-op. The partition probe is driver-side planning only
    for a plan without an exchange: over one (an anti-join, a
    repartition) ``df.rdd.getNumPartitions()`` runs the AQE query
    stages as jobs. Derived heavy columns (html wrap, token explode,
    signatures) must be computed AFTER this call so only source bytes
    shuffle."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def _launcher_has_master() -> bool:
    """True only when a launcher actually configured a master.

    Direct signals, strongest first: an already-running JVM gateway
    (spark-submit's PythonRunner exports PYSPARK_GATEWAY_PORT) whose
    conf carries spark.master, or an explicit --master in
    PYSPARK_SUBMIT_ARGS (pyspark shell). Merely having sourced
    load-spark-env.sh (SPARK_ENV_LOADED — inherited by every child
    process) is NOT a master: keying off it made plain `python x.py`
    fail with 'A master URL must be set'."""
    if os.environ.get("PYSPARK_GATEWAY_PORT"):
        # the launcher's JVM exists: its system properties are the
        # truth — read them instead of guessing from env vars
        from pyspark import SparkConf

        return SparkConf(loadDefaults=True).contains("spark.master")
    return "--master" in os.environ.get("PYSPARK_SUBMIT_ARGS", "")


def get_spark(
    app_name: str = "qizner-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied.

    ``master`` resolution: explicit arg > QIZNER_SPARK_MASTER env >
    whatever the launcher set (spark-submit's cluster manager) >
    local[*]. Under spark-submit, leave master unset so --master /
    --num-executors apply — hard-coding local[*] here would silently
    turn a cluster job into a single-JVM one.
    """
    master = master or os.environ.get("QIZNER_SPARK_MASTER")
    if not master and not _launcher_has_master():
        master = "local[*]"  # plain `python x.py` needs SOME master
    shuffle_partitions = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    if master and master.startswith("local"):
        # pin the RPC endpoints IN LOCAL MODE ONLY: sandboxed hosts
        # often have blackhole DNS and any resolution attempt stalls
        # jobs 60-120 s (measured). On a real cluster the driver host
        # must be reachable by executors — pinning loopback there
        # would break executor registration.
        builder = (
            builder.config("spark.driver.host", "127.0.0.1")
            .config("spark.driver.bindAddress", "127.0.0.1")
        )
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Size reduce-side parallelism with AQE instead of the static
        # shuffle-partition count (guide §2.2): shuffles START wide —
        # at least 2x the local core count — and AQE coalesces them
        # back down by size at runtime. minPartitionSize is lowered
        # from the 1 MB default because the engine's hot reduce stages
        # (pair enumeration, per-doc windows, signature verification)
        # are CPU-bound, not IO-bound: a "small" 1 MB partition can
        # still carry seconds of compute, and coalescing below the
        # machine's parallelism serializes it. At warehouse scale both
        # knobs are inert (partitions sit >= the 64 MB advisory size).
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(max(shuffle_partitions, 2 * (os.cpu_count() or 16))),
        )
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "128k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("QIZNER_DRIVER_MEM", "8g"))
        # Broadcast joins for alias dictionaries / small dims up to 64 MB.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
