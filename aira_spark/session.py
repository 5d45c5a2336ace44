"""SparkSession builder tuned for the raster pipeline.

Local-mode defaults that still reflect cluster-scale choices: AQE on (runtime
coalescing + skew-join backstop), Arrow transfer for pandas UDFs, shuffle
partition count sized to cores. On a real cluster only master/num-executors
change (spark-submit --py-files, see bench.py).

Python workers start from ``aira_spark.pydaemon``, not ``pyspark.daemon``.
Spark puts its own archives (``pyspark.zip``, the py4j zip, the spark-core
jar) first on the workers' path, and every task calls
``importlib.invalidate_caches()``; before Python 3.12 (CPython gh-103200) that
makes each cached ``zipimporter`` re-read its whole archive: ~300 ms of fixed
cost in every ``mapInPandas``/``pandas_udf`` task on a 4-core x86 host. The daemon drops those
archives when the same pyspark and py4j are installed unpacked. Remove it once
the workers run Python >= 3.12.
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _workers_import_engine() -> bool:
    """Local workers start as `python -m <daemon module>` in this process's
    working directory with its PYTHONPATH: name an engine module as the
    daemon only when that path reaches this package."""
    paths = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    paths += site.getsitepackages()
    return any(p and os.path.realpath(p) == os.path.realpath(_ROOT) for p in paths)


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
    )
    if _workers_import_engine():
        b = b.config("spark.python.daemon.module", "aira_spark.pydaemon")
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
