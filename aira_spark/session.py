"""SparkSession builder tuned for the raster pipeline.

Local-mode defaults that still reflect cluster-scale choices: AQE on (runtime
coalescing + skew-join backstop), Arrow transfer for pandas UDFs, shuffle
partition count sized to cores. On a real cluster only master/num-executors
change (spark-submit --py-files, see bench.py).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "aira-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    b = (
        SparkSession.builder.appName(app)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # decode-heavy scans: image bytes compress ~10x in parquet and the
        # per-partition Arrow->UDF cost dominates, so input partitions are
        # sized small (4 MB on disk ~ 40 MB decoded) to keep every core fed —
        # the default 128 MB coalesces a whole small table into ~4 tasks and
        # serializes the pipeline at any core count. openCost=0 stops Spark
        # padding small files into fewer partitions.
        .config("spark.sql.files.maxPartitionBytes", "4194304")
        .config("spark.sql.files.openCostInBytes", "0")
        # multi-MB binary rows: the default 4096-row columnar reader batch
        # would allocate rows x row-size contiguous heap (OOM at 32 tasks);
        # 64 rows keeps reader batches O(100 MB) across the whole image-size
        # range while costing nothing on narrow relational tables
        .config("spark.sql.parquet.columnarReaderBatchSize", "64")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # PySpark wraps every functions.* call and Column method to record its
        # Python call site: ~10 py4j round trips per call, which made plan
        # building the largest driver cost. Errors from DataFrame-API
        # expressions lose the Python call site; SQL-text expressions keep
        # their fragment context.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # let AQE coalesce the shuffle output of a persisted plan as it does
        # any other: by default a cached frame keeps all shuffle partitions,
        # and every task reading it deserializes the whole (80-310 KB for
        # kNN) plan for a few rows. Large caches still keep at least
        # defaultParallelism partitions (parallelismFirst).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
