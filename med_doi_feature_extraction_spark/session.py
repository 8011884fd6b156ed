"""SparkSession factory with the engine's tuned defaults.

Single place where execution-relevant confs live so tests, bench and
the driver contract all run with identical semantics (UTC timestamps,
Arrow enabled, AQE on, shuffle partitions sized for the box).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: Arrow batches carry whole HTML blobs (rows can be MBs); cap records
#: per batch so a batch stays well under executor memory even at 100 TB
#: scale where individual pages can be large.
ARROW_MAX_RECORDS = 2_000


def get_spark(
    app_name: str = "med_doi_feature_extraction_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or
    ``local[*]``. On a real cluster, pass ``master=None`` after
    setting it via spark-submit; everything else still applies.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)
        except ValueError:
            shuffle_partitions = os.cpu_count() or 8

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # blob-heavy scans: smaller splits keep the (CPU-bound) extract
        # kernel parallel even when the table is a handful of files.
        # openCostInBytes matters too: Spark's maxSplitBytes =
        # min(maxPartitionBytes, max(openCostInBytes, bytes/core)), so
        # the default 4 MB floor capped a single 27 MB file at 7
        # splits — 7 of 32 cores running the extract kernel (measured).
        # 1 MB floors the split size only for small tables; multi-file
        # 100 TB scans are governed by maxPartitionBytes as before.
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Ship this package to executor Python workers (pandas-UDF closures
    # reference it by module name) — programmatic --py-files.
    from med_doi_feature_extraction_spark.packaging import ensure_package_on_workers

    ensure_package_on_workers(spark)
    return spark


def spread(df: DataFrame) -> DataFrame:
    """Parallelism floor for a CPU-bound stage: one round-robin
    exchange to ``defaultParallelism`` when ``df`` is smaller than one
    ``maxPartitionBytes`` split per core, else ``df`` unchanged.

    A small single-file parquet scan arrives as one or two productive
    tasks (only splits holding a row-group midpoint produce rows), so the
    Arrow/codegen kernel above it would run on 1 of N cores; the
    exchange is bounded by that same small size. Anything bigger gets
    its parallelism from the scan's own splits, or from AQE after a
    shuffle. The size is Catalyst's plan estimate, so the check starts
    no Spark job; a round-robin exchange is never coalesced by AQE. A
    second ``spread`` separated from the first only by column pruning
    and filters collapses into the same exchange; one over computed
    columns does not (``tools/plan_lint.py`` flags that shape).
    """
    spark = df.sparkSession
    want = spark.sparkContext.defaultParallelism
    # the parsed long ("64m" -> 67108864), not the raw conf string
    split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    if size >= want * split:
        return df
    return df.repartition(want)
