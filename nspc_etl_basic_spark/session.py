"""The one SparkSession factory: the CLI, the tests, ``bench.py``,
perfbench and the scripts all build their session here, so every caller
runs the SQL conf the tests verify.

Scale stance: AQE, partition coalescing and skew-join splitting are
Spark's defaults and stay on; the shuffle-partition count is sized by the
caller to its cluster, or, when the caller gives none, to the session's
own ``defaultParallelism``. The Arrow flag speeds only ``toPandas`` and
``createDataFrame`` from pandas; the ``mapInPandas``/``applyInPandas``
kernels use Arrow whatever it says. On a real 1000-executor cluster the
same builder applies — only master/shuffle sizing change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "nspc-etl-basic-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if master is None:
        master = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # bad timestamp parses must yield NULL, not error (SURVEY §2 B3)
        .config("spark.sql.legacy.timeParserPolicy", "CORRECTED")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # no count given: one shuffle partition per core the session runs on
    if shuffle_partitions is None:
        shuffle_partitions = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return spark
