"""Count-Min sketch: overcount-only guarantee, exactness in the
no-collision regime, mergeability, sparse-size bound."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from med_doi_feature_extraction_spark.operators.sketches import (
    cms_build,
    cms_estimate,
)

DEPTH, WIDTH = 4, 1 << 12


@pytest.fixture(scope="module")
def keys(spark):
    # zipf-ish: key 0 appears 1000x, key i appears ~1000/i times
    return spark.range(40).select(
        F.col("id").alias("k"),
        (F.lit(1000) / (F.col("id") + 1)).cast("int").alias("reps"),
    ).select(
        F.col("k"), F.explode(F.sequence(F.lit(1), F.col("reps")))
    ).select("k").cache()


def test_cms_never_undercounts_and_is_tight_when_sparse(spark, keys):
    cms = cms_build(keys, "k", depth=DEPTH, width=WIDTH)
    probes = keys.distinct()
    est = cms_estimate(cms, probes, "k", depth=DEPTH, width=WIDTH)
    true = keys.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    joined = est.join(true, "k").collect()
    assert all(r.est >= r.n for r in joined)
    # 40 distinct keys in 4x4096 cells: collisions essentially absent,
    # min-over-rows recovers exact counts
    assert all(r.est == r.n for r in joined)


def test_cms_sparse_size_bounded(keys):
    cms = cms_build(keys, "k", depth=DEPTH, width=WIDTH)
    assert cms.count() <= DEPTH * WIDTH
    # depth rows per distinct key at most
    assert cms.count() <= DEPTH * 40


def test_cms_mergeable(spark, keys):
    # merge the two halves of WHATEVER split happened — determinism of
    # the split is irrelevant to the merge identity
    a, b = keys.randomSplit([0.5, 0.5], seed=7)
    cms_union = (
        cms_build(a, "k", depth=DEPTH, width=WIDTH)
        .unionByName(cms_build(b, "k", depth=DEPTH, width=WIDTH))
        .groupBy("row", "pos")
        .agg(F.sum("n").alias("n"))
    )
    cms_whole = cms_build(a.unionByName(b), "k", depth=DEPTH, width=WIDTH)
    assert sorted(map(tuple, cms_union.collect())) == sorted(
        map(tuple, cms_whole.collect())
    )


def test_cms_absent_key_estimates_zero_when_sparse(spark, keys):
    cms = cms_build(keys, "k", depth=DEPTH, width=WIDTH)
    ghost = spark.createDataFrame([(10**9,)], "k long")
    (row,) = cms_estimate(cms, ghost, "k", depth=DEPTH, width=WIDTH).collect()
    assert row.est == 0


def test_cms_weighted_build_matches_raw_rows(spark, keys):
    """``weight_col`` build from per-key counts is bit-identical to
    counting the raw rows, also when the weighted table carries keys
    with a zero or NULL weight (no occurrence: no cell, not n = 0)."""
    raw = cms_build(keys, "k", depth=DEPTH, width=WIDTH)
    counts = keys.groupBy("k").agg(F.count(F.lit(1)).cast("long").alias("w"))
    ghosts = spark.createDataFrame(
        [(10**9, 0), (10**9 + 1, None)], "k long, w long"
    )
    weighted = cms_build(
        counts.unionByName(ghosts), "k", depth=DEPTH, width=WIDTH, weight_col="w"
    )
    assert sorted(map(tuple, weighted.collect())) == sorted(
        map(tuple, raw.collect())
    )


def test_cms_join_size_bounds(spark):
    """Inner-product estimate obeys the one-sided CMS guarantee:
    true ≤ est ≤ true + (e/width)·|A|·|B| (Cormode-Muthukrishnan)."""
    import math

    from med_doi_feature_extraction_spark.operators.sketches import (
        cms_join_size,
    )

    # Zipf-ish skew: key k appears ~1000/k times
    a = spark.range(5000).selectExpr("cast(1000 / (id % 97 + 1) as long) as k")
    b = spark.range(3000).selectExpr("cast(1000 / (id % 53 + 1) as long) as k")
    est = cms_join_size(
        cms_build(a, "k", depth=DEPTH, width=WIDTH),
        cms_build(b, "k", depth=DEPTH, width=WIDTH),
        depth=DEPTH,
    ).collect()[0].est
    fa = a.groupBy("k").count().withColumnRenamed("count", "na")
    fb = b.groupBy("k").count().withColumnRenamed("count", "nb")
    true_ip = (
        fa.join(fb, "k")
        .selectExpr("cast(sum(na * nb) as long) as t")
        .collect()[0]
        .t
    )
    assert true_ip <= est <= true_ip + math.e / WIDTH * 5000 * 3000


def test_cms_join_size_disjoint_is_zero(spark):
    """Disjoint key ranges: if ANY sketch row has no colliding
    buckets, min drives the estimate to 0 — the spine join must
    preserve empty rows rather than dropping them."""
    from med_doi_feature_extraction_spark.operators.sketches import (
        cms_join_size,
    )

    a = spark.range(10).selectExpr("id as k")
    b = spark.range(10).selectExpr("id + 1000000 as k")
    est = cms_join_size(
        cms_build(a, "k", depth=DEPTH, width=WIDTH),
        cms_build(b, "k", depth=DEPTH, width=WIDTH),
        depth=DEPTH,
    ).collect()[0].est
    assert est == 0
