"""THE golden test (north-star): the full flagship pipeline vs a
single-threaded pure-pandas oracle — numpy.allclose on every numeric
feature, byte-identity (sha256) on extracted text, exact equality on
keys/strings, at each (url, warc_ts)."""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd
import pytest

from med_doi_feature_extraction_spark.kernels.features import DOI_REGEX
from med_doi_feature_extraction_spark.kernels.html_text import extract_text_series
from med_doi_feature_extraction_spark.pipeline import FeatureConfig, page_features
from med_doi_feature_extraction_spark.sources.pages import domain_of_url

GAP = 3600


def _oracle(pages_pdf: pd.DataFrame, dim_pdf: pd.DataFrame) -> pd.DataFrame:
    """Plain-pandas reference implementation of FIXTURES.md F2."""
    df = pages_pdf.copy().sort_values(["url", "warc_ts"], kind="stable")
    df["text_extracted"] = extract_text_series(df.html)
    df["text_len"] = df.text_extracted.str.len().astype("int32")
    dois = df.text_extracted.map(lambda t: re.findall(DOI_REGEX, t))
    df["doi_count"] = dois.map(len).astype("int32")
    df["doi_first"] = dois.map(lambda d: d[0] if d else None)
    df["domain"] = df.url.map(domain_of_url)

    g = df.groupby("url", sort=False)
    df["text_len_lag1"] = g.text_len.shift(1)
    df["text_len_delta1"] = (df.text_len - df.text_len_lag1).astype(float)
    df["lang_ffill"] = g.lang.ffill()

    gap = (df.warc_ts - g.warc_ts.shift(1)).dt.total_seconds()
    df["gap_seconds"] = gap
    new = gap.isna() | (gap > GAP)
    df["session_id"] = new.groupby(df.url, sort=False).cumsum().astype("int64")
    df["snap_rank"] = g.cumcount() + 1
    df["session_seq"] = df.groupby(["url", "session_id"], sort=False).cumcount() + 1

    # backward as-of vs dim (latest-wins, ties by (rank_score, category) desc)
    rp = dim_pdf.sort_values(["obs_ts", "rank_score", "category"], kind="stable")
    rp = rp.drop_duplicates(["domain", "obs_ts"], keep="last").sort_values(
        "obs_ts", kind="stable"
    )
    lp = df.sort_values("warc_ts", kind="stable")
    merged = pd.merge_asof(
        lp,
        rp.rename(columns={"obs_ts": "_rts"}),
        left_on="warc_ts",
        right_on="_rts",
        by="domain",
        direction="backward",
    ).drop(columns=["_rts"])
    return merged.sort_values(["url", "warc_ts"], kind="stable").reset_index(drop=True)


def _sha(s):
    return None if s is None else hashlib.sha256(s.encode()).hexdigest()


def test_flagship_matches_pandas_oracle(spark, pages_pdf, dim_pdf, pages_df, dim_df):
    got = (
        page_features(pages_df, dim=dim_df, cfg=FeatureConfig(run_id="golden"))
        .toPandas()
        .sort_values(["url", "warc_ts"], kind="stable")
        .reset_index(drop=True)
    )
    exp = _oracle(pages_pdf, dim_pdf)
    assert len(got) == len(exp)

    # keys: exact
    assert (got.url == exp.url).all()
    assert (got.warc_ts == exp.warc_ts).all()
    # text: byte-identical via sha256 (north-star invariant)
    assert (got.text_extracted.map(_sha) == exp.text_extracted.map(_sha)).all()
    # string features: exact
    for col in ["doi_first", "lang_ffill", "category", "domain"]:
        assert (got[col].fillna("∅") == exp[col].fillna("∅")).all(), col
    # integer features: exact
    for col in ["text_len", "doi_count", "session_id", "session_seq", "snap_rank"]:
        assert (got[col].astype("int64") == exp[col].astype("int64")).all(), col
    # float features: allclose
    for col in ["text_len_lag1", "text_len_delta1", "gap_seconds", "rank_score"]:
        assert np.allclose(
            got[col].astype(float), exp[col].astype(float), equal_nan=True
        ), col
    # lineage present
    assert got.lineage.notna().all()


def test_fixture_writer_row_group_layout(tmp_path):
    """Regression guard for the 3-worker parallelism bug: the fixture
    writer must emit bounded row groups (Spark can only assign a file
    split to a task if a row group starts inside it)."""
    import pyarrow.parquet as pq

    from med_doi_feature_extraction_spark.sources.pages import (
        write_pages_parquet,
    )

    pages_path, _ = write_pages_parquet(str(tmp_path), n_urls=600, seed=7)
    f = pq.ParquetFile(pages_path)
    assert f.metadata.num_rows > 4000
    assert f.num_row_groups >= f.metadata.num_rows // 2000
    assert max(
        f.metadata.row_group(i).num_rows for i in range(f.num_row_groups)
    ) <= 2000


def test_flagship_row_count_is_input_keys(spark, pages_df, dim_df, pages_pdf):
    out = page_features(pages_df, dim=dim_df, cfg=FeatureConfig())
    assert out.count() == len(pages_pdf)
    assert out.select("url", "warc_ts").distinct().count() == len(pages_pdf)
