"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` (single JVM), but every setting here is
chosen to also hold on a 1000-executor cluster at ~100 TB:

- AQE on (runtime coalescing, skew-join splitting, broadcast demotion);
- shuffle partitions sized to the lesser of cores-based local default and
  an explicit override — on a real cluster you'd raise this or rely on
  AQE's coalescing from a high initial number;
- Arrow enabled so the few pandas-UDF operators batch through Arrow;
- UTC session timezone so timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: local[N] width: $SPARK_GRAFT_CPUS, else the cores this process may run on
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "kafka_merge_purge_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Scale posture: all knobs are defaults a cluster deployment would
    override via spark-submit; nothing here assumes local mode except
    the master URL, which an existing session or ``--master`` wins over.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if not SparkSession.getActiveSession():
        builder = builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
