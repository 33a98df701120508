"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]``; the same settings are what we would
ship in ``spark-defaults.conf`` on a real cluster (AQE on, skew-join on,
Arrow on, UTC session timezone so results are oracle-comparable).

Parquet timestamps are written as INT64 ``TIMESTAMP_MICROS`` instead of
Spark's legacy INT96: INT96 has no defined sort order, so its footers
carry no usable min/max, and snapshot tables (``sources/snapshots.py``)
take their manifest column stats from the footers of the files a commit
just wrote. Readers handle both encodings; an INT96 file written
elsewhere only loses file skipping on its timestamp columns.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "featuregenerator_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with engine defaults.

    cores=None -> local[*]; shuffle partitions default to the core count so
    tiny local runs are not over-parallelized (200 default is wrong at both
    extremes; on a real cluster this is set to ~2-3x total executor cores).
    """
    cores_env = os.environ.get("SPARK_GRAFT_CPUS")
    if cores is None and cores_env:
        cores = int(cores_env)
    if cores:
        master = f"local[{cores}]"
    else:
        # under spark-submit the master arrives via conf (--master /
        # spark-defaults); overriding it here would silently turn a
        # cluster submit into local[*] — respect it when present
        from pyspark import SparkConf

        master = SparkConf().get("spark.master", None) or "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = cores if cores else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # GC checkpoint files once the RDD that produced them is collected;
        # iterative jobs (connected components) otherwise leak one parquet
        # tree per round across rounds/jobs.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # reliable checkpoint target for iterative algorithms (connected
    # components): localCheckpoint blocks die with their executor, so
    # iterative jobs checkpoint here instead. On a cluster this MUST be a
    # shared filesystem (HDFS/object store) via SPARK_GRAFT_CHECKPOINT_DIR —
    # a node-local default like /tmp would scatter checkpoint partitions
    # across executors' private disks, breaking re-reads after executor
    # loss (the exact failure checkpointing exists to survive). So the
    # /tmp default applies ONLY under a local master; on a non-local master
    # with no explicit dir we leave it unset and connected_components falls
    # back to localCheckpoint (best effort) rather than silently corrupting.
    if not spark.sparkContext.getCheckpointDir():
        ckpt = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
        if ckpt is None and spark.sparkContext.master.startswith("local"):
            ckpt = "/tmp/fg_checkpoints"
        if ckpt is not None:
            spark.sparkContext.setCheckpointDir(ckpt)
    return spark
