"""Hot-domain skew: the full pipeline on a 30%-hot-domain distribution
completes and matches the unskewed semantics (SURVEY.md §5.2.4)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from med_doi_feature_extraction_spark.operators.asof import (
    asof_join_sorted,
    asof_join_window,
)
from med_doi_feature_extraction_spark.pipeline import FeatureConfig, page_features
from med_doi_feature_extraction_spark.sources.pages import (
    domain_of_url,
    generate_dim_snapshots,
    generate_pages,
)


@pytest.fixture(scope="module")
def hot_pdf():
    return generate_pages(n_urls=200, seed=11, hot_domain_frac=0.3)


def test_hot_domain_distribution(hot_pdf):
    domains = hot_pdf.url.map(domain_of_url)
    assert domains.value_counts(normalize=True).iloc[0] > 0.25


def test_pipeline_on_skewed_input(spark, hot_pdf):
    """Row preservation + per-key correctness on the skewed table: the
    features of a url must not depend on what other domains exist."""
    pages = spark.createDataFrame(hot_pdf)
    dim = spark.createDataFrame(generate_dim_snapshots(hot_pdf, seed=12))
    out = page_features(pages, dim=dim, cfg=FeatureConfig(run_id="skew")).toPandas()
    assert len(out) == len(hot_pdf)
    # cross-check: same url's features computed on ONLY that url's rows
    hot_domain = hot_pdf.url.map(domain_of_url).value_counts().idxmax()
    one_url = hot_pdf[hot_pdf.url.map(domain_of_url) == hot_domain].url.iloc[0]
    solo = page_features(
        spark.createDataFrame(hot_pdf[hot_pdf.url == one_url]),
        dim=dim, cfg=FeatureConfig(run_id="skew"),
    ).toPandas().sort_values("warc_ts").reset_index(drop=True)
    full_slice = (
        out[out.url == one_url].sort_values("warc_ts").reset_index(drop=True)
    )
    for col in ["session_id", "text_len", "lang_ffill", "rank_score"]:
        left = full_slice[col].fillna("∅") if full_slice[col].dtype == object else full_slice[col]
        right = solo[col].fillna("∅") if solo[col].dtype == object else solo[col]
        pd.testing.assert_series_equal(left, right, check_names=False)


def test_paragraph_dedup_boilerplate_skew(spark):
    """Adversarial hash-join skew (VERDICT r3 watch item): ONE
    boilerplate paragraph is ~33% of all paragraph occurrences, so its
    8-byte hash key co-locates a third of the paras→firsts join rows.
    Run under a small shuffle-partition budget (every boilerplate row
    forced through few reducers) and assert exact parity with an
    independently computed pandas oracle."""
    import pandas as pd

    n_docs = 300
    boiler = "SUBSCRIBE TO OUR NEWSLETTER for daily updates"
    rows = [
        (
            i,
            f"unique intro {i} alpha\n\n{boiler}\n\nunique body {i} beta",
        )
        for i in range(n_docs)
    ]
    from med_doi_feature_extraction_spark.operators.paragraphs import (
        paragraph_dedup,
    )

    df = spark.createDataFrame(rows, ["doc_id", "text"])
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        out = (
            paragraph_dedup(df, "doc_id", "text")
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    # pandas oracle: first occurrence (doc 0) keeps the boilerplate
    exp_kept = [3 if i == 0 else 2 for i in range(n_docs)]
    assert list(out.paras_kept) == exp_kept
    assert list(out.paras_in) == [3] * n_docs
    assert boiler in out.text_dedup.iloc[0]
    assert not out.text_dedup.iloc[1:].str.contains(boiler).any()
    # surviving text preserves original order for every doc
    assert (
        out.text_dedup.iloc[5]
        == "unique intro 5 alpha\n\nunique body 5 beta"
    )
    assert isinstance(out, pd.DataFrame)


def test_tfidf_join_skew_non_broadcast(spark):
    """The tf⋈df token join in the NON-broadcast regime (VERDICT r3
    watch item): one dominant token in every doc (Zipf head), auto-
    broadcast disabled so the join shuffles on the skewed token key.
    Output must equal the broadcast-regime plan exactly."""
    from med_doi_feature_extraction_spark.operators.corpus_stats import (
        tfidf_topk,
    )

    n_docs = 200
    rows = [
        (
            i,
            "the " * 5 + f"rare{i} " + f"tail{i % 7} " + "common filler words",
        )
        for i in range(n_docs)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    def run():
        return (
            tfidf_topk(docs, "doc_id", "text", k=3)
            .toPandas()
            .sort_values(["doc_id", "token"])
            .reset_index(drop=True)
        )

    base = run()
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        skewed = run()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
    pd.testing.assert_frame_equal(base, skewed)
    # the dominant token is every doc's top term by tf but its idf is
    # minimal — the distinctive rare token must outrank it
    doc3 = skewed[skewed.doc_id == 3]
    assert "rare3" in set(doc3.token)


def test_salted_asof_on_hot_keys(spark, hot_pdf):
    """Salting the left side of the hot bucket changes nothing in the
    result (already property-tested on uniform data; this pins the
    skewed case)."""
    dim_pdf = generate_dim_snapshots(hot_pdf, seed=12)
    left = spark.createDataFrame(
        hot_pdf[["url", "warc_ts"]].assign(
            domain=hot_pdf.url.map(domain_of_url)
        )
    )
    dim = spark.createDataFrame(dim_pdf)
    base = asof_join_window(
        left, dim, "domain", "warc_ts", "obs_ts", ["rank_score"],
        right_tiebreak=["rank_score"],
    ).toPandas().sort_values(["url", "warc_ts"]).reset_index(drop=True)
    salted = asof_join_sorted(
        left, dim, "domain", "warc_ts", "obs_ts", ["rank_score"],
        right_tiebreak=["rank_score"], num_buckets=4, salt_factor=8,
    ).toPandas().sort_values(["url", "warc_ts"]).reset_index(drop=True)
    pd.testing.assert_series_equal(
        base.rank_score.round(9), salted.rank_score.round(9), check_names=False
    )


def _round_robin(df) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [ln for ln in plan.splitlines() if "RoundRobinPartitioning" in ln]


@pytest.fixture(scope="module")
def small_parquet(spark, tmp_path_factory):
    """One single-file parquet of ~0.7 MB: below one 32 MB split per
    core, above one 1 KB split per core."""
    path = str(tmp_path_factory.mktemp("spread") / "t.parquet")
    spark.range(20_000).selectExpr(
        "id", "sha2(cast(id AS string), 256) AS s"
    ).coalesce(1).write.parquet(path)
    return path


def test_spread_small_input_gets_one_round_robin_exchange(spark, small_parquet):
    from med_doi_feature_extraction_spark.session import spread

    n = spark.sparkContext.defaultParallelism
    df = spark.read.parquet(small_parquet)
    once = spread(df)
    lines = _round_robin(once)
    assert len(lines) == 1 and f"RoundRobinPartitioning({n})" in lines[0]
    # stacking collapses: a second floor over the same rows is free
    assert len(_round_robin(spread(once))) == 1
    assert len(_round_robin(spread(once.filter("id > 5").select("s")))) == 1
    assert sorted(r.id for r in once.collect()) == list(range(20_000))


def test_spread_large_input_is_unchanged(spark):
    from med_doi_feature_extraction_spark.session import spread

    big = spark.range(10**9)  # estimated at 8 GB, over the threshold
    assert spread(big) is big


def test_spread_parses_max_partition_bytes(spark, small_parquet):
    """"1k" is a valid byte string: the threshold becomes 1 KB per
    core and the 0.7 MB input no longer gets the floor."""
    from med_doi_feature_extraction_spark.session import spread

    df = spark.read.parquet(small_parquet)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
    try:
        assert spread(df) is df
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_spread_starts_no_jobs(spark, small_parquet, no_jobs):
    from med_doi_feature_extraction_spark.session import spread

    df = spark.read.parquet(small_parquet)
    with no_jobs():
        spread(spread(df).select("s"))


def test_plan_lint_flags_double_spread(spark, small_parquet):
    """A floor over computed columns of already-spread rows plans a
    second round-robin exchange; the lint names it. An aggregate in
    between (the bucket-table case) is a legitimate second floor."""
    from med_doi_feature_extraction_spark.session import spread
    from tools.plan_lint import lint_plan

    def flags(df):
        return lint_plan("t", df._jdf.queryExecution().executedPlan().toString())

    once = spread(spark.read.parquet(small_parquet))
    computed = once.selectExpr("id", "sha2(s, 256) AS h")
    assert flags(once) == []
    assert flags(spread(computed)) == ["RoundRobin->RoundRobin(double spread)"]
    assert flags(spread(once.groupBy("s").count())) == []
