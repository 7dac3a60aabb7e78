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

Codegen cache: Spark compiles each generated class with Janino and keeps
it in a per-JVM LRU cache of ``spark.sql.codegen.cache.maxEntries``
classes, 100 by default. ``CODEGEN_CACHE_ENTRIES`` is the smallest of
100, 200, 500, 1,000, 2,000 and 4,000 at which both a warm curation pass
and ``bench.py``'s timed pass stop recompiling. Classes compiled per warm
op at ``local[4]`` (the bench pass at one repeat per query):

    entries               100    200    500  1,000  2,000  4,000
    run_curation pass   47-64    0-2    0-2    0-2    0-2    0-2
    bench.py timed pass 3,509  3,194  2,838  2,604  2,412    185

One curation pass generates 106 classes, so it fits from 200 entries.
The 209 driver queries generate about 2,700, and a pass over them cycles
through more classes than a smaller cache holds, so LRU misses nearly
every one; the 185 left at 4,000 are code the sf0.001 warm-up did not
generate (see ``bench.warm_up``). At 100 the timed pass spent 37.6 s in
Janino, at 4,000 2.6 s. Cost after a whole bench pass, 4,000 against 100:
Metaspace 217 against 195 MB, JIT code cache 153 against 121 MB, peak
JVM RSS 4.6 against 4.4 GB (3.9-5.7 GB across sizes, run to run). The
loader's per-file classes (about 34 on its first batch) fit at any size.

The conf is static: it takes effect only when ``get_spark`` launches the
JVM. A later call that finds the session running gets the size the JVM
started with, and a caller that needs another size passes it in
``extra_conf`` on the first call.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Entries of Spark's generated-class cache
#: (``spark.sql.codegen.cache.maxEntries``); sized in the module docstring.
CODEGEN_CACHE_ENTRIES = 4000


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
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # no count given: one shuffle partition per core the session runs on
    if shuffle_partitions is None:
        shuffle_partitions = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return spark


def codegen_compiles(spark: SparkSession) -> tuple[int, float]:
    """(classes compiled, seconds spent compiling them) by Janino in this
    JVM so far. Each miss of the generated-class cache is one compile, so
    the difference across a block counts the classes it did not find."""
    jvm = spark.sparkContext._jvm
    n = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return int(n), ns / 1e9
