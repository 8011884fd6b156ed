"""Physical-plan regression guards: pushdown, pruning, broadcast,
shuffle budget. These pin the Catalyst behaviors the engine's scale
story depends on (SURVEY.md §4.2) so a refactor that silently defeats
them fails CI, not the cluster bill."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_and_column_pruning(spark):
    plan = _plan(entry.q_tpch_q1(spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # projection reaches the scan: html-free, only the 7 needed columns
    scan = [l for l in plan.splitlines() if "FileScan" in l][0]
    assert "l_orderkey" not in scan  # unused column pruned
    assert "l_quantity" in scan


def test_small_dims_broadcast(spark):
    plan = _plan(entry.q_broadcast_join_agg(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2  # customer + nation


def test_window_stack_single_exchange(spark, pages_df):
    """lag+ffill+sessionize+rolling share ONE shuffle on the entity."""
    from med_doi_feature_extraction_spark.operators.windows import (
        forward_fill,
        rolling,
        sessionize,
        with_lag_lead,
    )

    df = pages_df.select("url", "warc_ts", "lang", F.length("text").alias("n"))
    out = sessionize(
        forward_fill(
            with_lag_lead(df, "url", "warc_ts", {"n": "n"}),
            "url", "warc_ts", ["lang"],
        ),
        "url", "warc_ts", 3600,
    )
    out = rolling(out, "url", "warc_ts", "n", n_rows=3)
    assert _plan(out).count("Exchange") == 1


def test_pipeline_blob_never_shuffles(spark, pages_df, dim_df, tmp_path):
    """html bytes stay in the scan stage: no Exchange below the UDF —
    over the cached fixture and over parquet-backed pages, where the
    FileScan ReadSchema shows which side of the plan reads the blob."""
    from med_doi_feature_extraction_spark.pipeline import FeatureConfig, page_features

    pages_df.write.parquet(str(tmp_path / "pages"))
    dim_df.write.parquet(str(tmp_path / "dim"))
    on_disk = (
        spark.read.parquet(str(tmp_path / "pages")),
        spark.read.parquet(str(tmp_path / "dim")),
    )
    cached, parquet = (
        _plan(page_features(pages, dim=dim, cfg=FeatureConfig()))
        for pages, dim in ((pages_df, dim_df), on_disk)
    )
    for plan in (cached, parquet):
        # the UDF (ArrowEvalPython) appears exactly once, and no
        # Exchange line mentions the html column
        assert plan.count("ArrowEvalPython") == 1
        for line in plan.splitlines():
            if "Exchange" in line:
                assert "html" not in line, line
    # only the extract side scans the blob: the as-of side's scan is
    # pruned to its key columns
    schemas = [
        line.split("ReadSchema: ", 1)[1]
        for line in parquet.splitlines()
        if "FileScan" in line
    ]
    assert sum("html:" in s for s in schemas) == 1, schemas


def test_anti_join_is_join_not_subquery_scan(spark):
    plan = _plan(entry.q_anti_join(spark, SF))
    assert "LeftAnti" in plan
