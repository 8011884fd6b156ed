"""Parser test against an event log written by a tiny Spark run.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import harness  # noqa: E402
from eventlog import EventLog, Tracer, find_log  # noqa: E402


def test_event_log_attributes_jobs_metrics_and_plans(tmp_path, monkeypatch):
    from pyspark.sql import functions as F

    from med_doi_feature_extraction_spark.session import get_spark

    # configure() sets these for the process; restore them after the test
    for var in ("TMPDIR", "SPARK_LOCAL_DIRS", "JAVA_TOOL_OPTIONS"):
        monkeypatch.setenv(var, "")
    conf = harness.configure(tmp_path, trace=True)
    spark = get_spark("perfbench-test", master="local[2]", shuffle_partitions=2, extra_conf=conf)
    try:
        tr = Tracer(spark.sparkContext)
        src = tmp_path / "src.parquet"
        spark.range(2_000).withColumn("k", F.col("id") % 7).write.parquet(str(src))
        df = spark.read.parquet(str(src))
        plus_one = F.pandas_udf(lambda s: s + 1, "long")
        with tr.span("op:udf"):
            df.select(plus_one("id").alias("y")).write.format("noop").mode("overwrite").save()
        agg = df.groupBy("k").count()
        with tr.span("op:reuse"):
            agg.join(agg.withColumnRenamed("count", "c2"), "k").write.format("noop").mode(
                "overwrite"
            ).save()
        app_id = spark.sparkContext.applicationId
    finally:
        spark.stop()
        harness.shutdown_jvm()
        monkeypatch.setattr("tempfile.tempdir", None)

    log = EventLog(find_log(tmp_path / "eventlog", app_id))
    assert log.jobs("op:udf") and log.jobs("op:reuse")
    assert not set(log.jobs("op:udf")) & set(log.jobs("op:reuse"))
    tot = log.task_totals("op:udf")
    assert tot["tasks"] > 0 and tot["run_s"] > 0 and tot["failed_tasks"] == 0
    assert log.sql_metric("op:udf", "Scan", "size of files read") > 0
    assert log.sql_metric("op:udf", "ArrowEvalPython", "number of output rows") == 2_000
    assert log.sql_metric("op:udf", "ArrowEvalPython", "data sent to Python workers") > 0
    assert log.sql_metric("op:reuse", "ArrowEvalPython", "number of output rows") == 0
    udf_plan = log.plan_counts("op:udf")
    assert udf_plan["python_nodes"] == 1 and udf_plan["scan_nodes"] == 1
    reuse_plan = log.plan_counts("op:reuse")
    assert reuse_plan["reused_exchanges"] >= 1 and reuse_plan["python_nodes"] == 0
    assert [s.name for s in tr.spans] == ["op:udf", "op:reuse"]
