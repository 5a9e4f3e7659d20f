"""SparkSession factory with the engine's tuned defaults.

Local-mode testing (local[N]) with settings that translate directly to
a multi-executor cluster: AQE on (runtime coalesce + skew split),
shuffle partitions sized to cores (not the 200 default), Arrow
enabled with a bounded batch size (the analog of the reference's task
chunk_size, convert.py:273-275), UTC session timezone (oracle
comparison), and generous max-fields truncation off the hot path.

Every entrypoint builds its session here, spark-submit jobs included:
a master the launcher already set (``spark-submit --master``) is
kept, so the jobs get these settings on any cluster manager.
"""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession


def _launcher_master() -> str | None:
    """spark.master as the launcher set it, or None. spark-submit starts
    the driver JVM before Python and hands it --master as a system
    property; SparkConf() reads those once the gateway is connected.
    A plain `python` run has no JVM yet, and none is started here: the
    driver memory and JVM options must reach its launch."""
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        SparkContext._ensure_initialized()
    return SparkConf().get("spark.master", None)


def build_session(
    app_name: str = "pdfwf_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 8192,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    launcher_master = None if master else _launcher_master()
    # the host's cores unless SPARK_GRAFT_CPUS says otherwise; also the
    # shuffle-partition basis under a cluster manager's master
    n_cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    master = (
        master or launcher_master or os.environ.get("SPARK_GRAFT_MASTER")
        or f"local[{n_cores}]"
    )
    if master.startswith("local["):
        inner = master[len("local["):-1]
        n_cores = os.cpu_count() if inner == "*" else int(inner)
    shuffle_partitions = shuffle_partitions or max(2 * n_cores, 8)

    builder = SparkSession.builder
    if not launcher_master:
        builder = builder.master(master)
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "20g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # r6: long multi-query sessions accumulate localCheckpoint /
        # shuffle blocks whose cleanup waits on a driver JVM GC; the
        # periodic ContextCleaner GC (default 30min) frees them on a
        # cadence that matches a query-suite run instead. Env override
        # for deployments with different session lifetimes.
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("SPARK_GRAFT_PERIODIC_GC", "2min"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
