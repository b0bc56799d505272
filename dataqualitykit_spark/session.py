"""SparkSession factory tuned for the quality-filter workload.

Design intent (SURVEY.md §4.2): everything rides on Catalyst/Tungsten —
AQE on (runtime coalesce + skew-join), Arrow on (pandas UDF batches),
explicit shuffle-partition sizing. On a real cluster the same builder is
used by `spark-submit --py-files dataqualitykit_spark.zip --conf
spark.executorEnv.PYTHONPATH=dataqualitykit_spark.zip`; only
master/memory flags change. The second flag is needed because Python
workers fork from this package's daemon module, which must import before
any task adds the `--py-files` zip to its own path (YARN alone puts
py-files on the executors' PYTHONPATH).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "dataqualitykit-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get(
        "SPARK_GRAFT_MASTER", f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # autoBroadcastJoinThreshold stays at Spark's 10m default: a 64m
        # static threshold forced broadcast builds inside the iterative CC
        # loop (~20% slower near-dedup at 400k docs); AQE already upgrades
        # joins to broadcast from runtime sizes
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # worker daemon that skips the per-task zip re-read (see _pydaemon)
        .config("spark.python.daemon.module", "dataqualitykit_spark._pydaemon")
    )
    # shuffle spill on tmpfs when available: one local disk cannot feed 32
    # concurrent shuffle writers (local-mode stand-in for cluster NVMe)
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        builder = builder.config("spark.local.dir", f"{shm}/spark-local")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
