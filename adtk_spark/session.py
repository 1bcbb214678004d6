"""SparkSession factory with scale-oriented defaults.

The same config is used by tests (local[*]) and by ``spark-submit
--py-files`` cluster jobs; only master/cores differ. AQE is on so skewed
shuffle partitions are split at runtime, Arrow is on so every pandas UDF
crosses the JVM/Python boundary in columnar batches.

PySpark's DataFrame call-site capture
(``spark.python.sql.dataFrameDebugging.enabled``) is off. With it on,
every ``Column`` / ``functions`` call makes five extra JVM round trips
(active-session lookup, class lookup, conf read, origin set and clear),
which roughly doubles the driver time spent building an operator's
plan. The trade-off: an analysis error (say, an unknown column) still
raises ``AnalysisException``, but its message no longer names the
Python line that built the failing expression. Pass
``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``
to get the call sites back while debugging; the setting is read when
the first expression is built, so set it on the session's first
``get_spark`` call.

The whole-stage codegen class cache
(``spark.sql.codegen.cache.maxEntries``, a static conf) holds 1000
classes instead of Spark's 100. One pass of the 13 detect operators
generates about 140 distinct classes, so the 100-entry LRU cache
evicted them before their next use: each pass re-ran Janino on about
120 classes and ran the fresh bytecode un-JITed. A tier
refresh-and-serve round needs about 70 classes once and 10-12
literal-specialised ones a round after that; the 150 contract queries
compile about 1750 distinct classes, nearly all used by one query only.
1000 is the smallest round size with clear headroom over the repeated
working sets; with it a repeated detect pass compiles no class. The
trade-off: cached classes stay loaded, so a long-lived session keeps up
to 1000 generated classes in Metaspace. After a detect run Metaspace
held 156 MB with 1000 entries and 162 MB with 100 (evicted classes
stay until a GC unloads them). Pass the key in ``extra_conf`` to size
it otherwise; like every static conf it only takes effect on the
process's first session. On a cluster each executor compiles into its
own cache, which the conf sizes only if the executors see it (not
checked).

Small inputs run as ONE partition (``one_partition_if_small``): the
detect operators and the catalog's small tier reads coalesce their
input when it is at most ``spark.sql.autoBroadcastJoinThreshold``
bytes, so their windows and aggregates plan no Exchange and run as one
Spark job. Set that conf to -1 to turn the rule off (it also turns off
unhinted broadcast joins).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "adtk_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores=None uses ``local[*]`` locally; on a real cluster the master
    comes from spark-submit and this builder only sets conf.
    """
    n = cores or os.cpu_count() or 4
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(2 * n, 32)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        # pandas/numpy float semantics, not ANSI SQL: the reference's
        # kernels produce nan/inf on 0/0 instead of raising; with ANSI
        # off Spark yields NULL, which maps to adtk's "undecidable"
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    if not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = builder.master(f"local[{cores}]" if cores else "local[*]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def codegen_compiles(spark: SparkSession) -> tuple[int, float]:
    """(classes, ms): the generated classes Janino has compiled in the
    driver JVM so far and the milliseconds it spent on them. Take the
    difference of two readings; in local mode the count covers every
    task, on a cluster only the driver's own compiles."""
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    cg = spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    return cm.METRIC_COMPILATION_TIME().getCount(), cg.compileTime() / 1e6


def one_partition_if_small(df: DataFrame, rows: int | None = None) -> DataFrame:
    """``df`` coalesced to one partition when it is small, else as is.

    Small means an estimated size of at most
    ``spark.sql.autoBroadcastJoinThreshold`` (10 MB by default): the
    size Spark itself handles whole in one place. A threshold of -1
    keeps every plan as it is. The estimate is ``rows`` times the row
    width ``defaultSize`` when the caller knows the row count (the tier
    catalog's manifest), else Spark's estimate for the analyzed plan:
    the file bytes of a file read; for a frame built from Python rows,
    an RDD or a stream, Spark's default size, far above any threshold,
    so such inputs keep their plan.

    ``SinglePartition`` satisfies every window, aggregate and join
    clustering, so the operators over a small input plan no Exchange:
    one job instead of a map stage, an AQE re-plan and a reduce stage
    that AQE coalesced to one task anyway. Measured at 4 cores (10
    overlapping tier snapshots, the latest-wins window plus
    ``rollup_up``, to ``noop``; median of 3, one partition against
    shuffled): 756 against 918 ms at 100k rows (8 MB estimated), 1037
    against 1158 ms at 300k (24 MB), 2374 against 1672 ms at 1M (80 MB).
    An earlier run of the same probe had the shuffled plan ahead at
    300k already (793 against 849 ms), so the crossover lies somewhere
    between 8 and 80 MB and 10 MB sits below it. Not measured above 4
    cores. A real-valued double sum may differ in its last bits between
    the two plans (a sum's order follows the partitioning).

    With the threshold on, Spark's estimate costs 8 py4j round trips to
    build (4 for the estimate, 3 for the threshold, 1 for the coalesce);
    the detect builders pay for them by writing their window projections
    as SQL strings."""
    limit = df.sparkSession._jsparkSession.sessionState().conf() \
        .autoBroadcastJoinThreshold()
    if limit < 0:
        return df
    jdf = df._jdf
    size = (jdf.queryExecution().analyzed().stats().sizeInBytes() if rows is None
            else rows * jdf.schema().defaultSize())
    return df.coalesce(1) if size <= limit else df
