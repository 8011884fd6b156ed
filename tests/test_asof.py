"""As-of join: both builds vs pandas merge_asof oracle + invariances."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from med_doi_feature_extraction_spark.operators.asof import (
    asof_join_horizons,
    asof_join_sorted,
    asof_join_window,
    feature_matrix,
)
from med_doi_feature_extraction_spark.sources.pages import domain_of_url

VALUE_COLS = ["rank_score", "category"]


def _left(pages_pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pages_pdf[["url", "warc_ts"]].copy()
    pdf["domain"] = pdf.url.map(domain_of_url)
    return pdf


def _oracle(pages_pdf: pd.DataFrame, dim_pdf: pd.DataFrame) -> pd.DataFrame:
    lp = _left(pages_pdf).sort_values("warc_ts", kind="stable")
    rp = dim_pdf.sort_values(["obs_ts", "rank_score", "category"], kind="stable")
    rp = rp.drop_duplicates(subset=["domain", "obs_ts"], keep="last")
    rp = rp.sort_values("obs_ts", kind="stable")
    out = pd.merge_asof(
        lp,
        rp.rename(columns={"obs_ts": "_rts"}),
        left_on="warc_ts",
        right_on="_rts",
        by="domain",
        direction="backward",
    )
    return out.drop(columns=["_rts"]).sort_values(["url", "warc_ts"]).reset_index(drop=True)


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values(["url", "warc_ts"], kind="stable").reset_index(drop=True)


def _check(got: pd.DataFrame, exp: pd.DataFrame) -> None:
    got = _normalize(got)
    assert len(got) == len(exp)
    assert np.allclose(
        got.rank_score.astype(float), exp.rank_score.astype(float), equal_nan=True
    )
    assert (got.category.fillna("∅") == exp.category.fillna("∅")).all()


@pytest.fixture(scope="module")
def left_df(spark, pages_pdf):
    return spark.createDataFrame(_left(pages_pdf))


def test_asof_window_build(spark, left_df, pages_pdf, dim_pdf, dim_df):
    got = asof_join_window(
        left_df, dim_df, "domain", "warc_ts", "obs_ts", VALUE_COLS,
        right_tiebreak=["rank_score", "category"],
    ).toPandas()
    _check(got, _oracle(pages_pdf, dim_pdf))


def test_asof_sorted_build(spark, left_df, pages_pdf, dim_pdf, dim_df):
    got = asof_join_sorted(
        left_df, dim_df, "domain", "warc_ts", "obs_ts", VALUE_COLS,
        right_tiebreak=["rank_score", "category"], num_buckets=8,
    ).toPandas()
    _check(got, _oracle(pages_pdf, dim_pdf))


def test_asof_builds_agree(spark, left_df, dim_df, pages_pdf, dim_pdf):
    a = asof_join_window(
        left_df, dim_df, "domain", "warc_ts", "obs_ts", VALUE_COLS,
        right_tiebreak=["rank_score", "category"],
    ).toPandas()
    b = asof_join_sorted(
        left_df, dim_df, "domain", "warc_ts", "obs_ts", VALUE_COLS,
        right_tiebreak=["rank_score", "category"], num_buckets=8,
    ).toPandas()
    pd.testing.assert_frame_equal(_normalize(a), _normalize(b)[a.columns])


@pytest.mark.parametrize("salt", [1, 4, 16])
def test_asof_salt_invariance(spark, left_df, dim_df, pages_pdf, dim_pdf, salt):
    got = asof_join_sorted(
        left_df, dim_df, "domain", "warc_ts", "obs_ts", VALUE_COLS,
        right_tiebreak=["rank_score", "category"],
        num_buckets=4, salt_factor=salt,
    ).toPandas()
    _check(got, _oracle(pages_pdf, dim_pdf))


def test_asof_exact_tie_inclusive(spark):
    """A right row at exactly ts_left IS visible (<= semantics), and
    latest-wins among multiple right rows below."""
    left = spark.createDataFrame(
        pd.DataFrame({"k": ["a"], "lts": pd.to_datetime(["2024-01-02"])})
    )
    right = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": ["a", "a", "a"],
                "rts": pd.to_datetime(["2024-01-01", "2024-01-02", "2024-01-03"]),
                "v": [1.0, 2.0, 3.0],
            }
        )
    )
    for fn in (asof_join_window, asof_join_sorted):
        got = fn(left, right, "k", "lts", "rts", ["v"]).toPandas()
        assert got.v.iloc[0] == 2.0, fn.__name__


def test_asof_no_match_nulls(spark):
    left = spark.createDataFrame(
        pd.DataFrame({"k": ["a"], "lts": pd.to_datetime(["2023-01-01"])})
    )
    right = spark.createDataFrame(
        pd.DataFrame(
            {"k": ["a"], "rts": pd.to_datetime(["2024-01-01"]), "v": [1.0]}
        )
    )
    for fn in (asof_join_window, asof_join_sorted):
        got = fn(left, right, "k", "lts", "rts", ["v"]).toPandas()
        assert len(got) == 1 and pd.isna(got.v.iloc[0]), fn.__name__


def test_asof_leakage(spark, left_df, dim_df, pages_pdf, dim_pdf):
    """Deleting all dim rows with obs_ts > cutoff does not change the
    joined values for left rows at ts <= cutoff."""
    cutoff = pd.Timestamp(pages_pdf.warc_ts.quantile(0.5))
    full = asof_join_window(
        left_df, dim_df, "domain", "warc_ts", "obs_ts", VALUE_COLS,
        right_tiebreak=["rank_score", "category"],
    ).filter(F.col("warc_ts") <= cutoff).toPandas()
    trunc_dim = dim_df.filter(F.col("obs_ts") <= cutoff)
    trunc = asof_join_window(
        left_df.filter(F.col("warc_ts") <= cutoff),
        trunc_dim, "domain", "warc_ts", "obs_ts", VALUE_COLS,
        right_tiebreak=["rank_score", "category"],
    ).toPandas()
    pd.testing.assert_frame_equal(_normalize(full), _normalize(trunc))


def _oracle_dir(pages_pdf, dim_pdf, direction, tolerance_sec=None):
    lp = _left(pages_pdf).sort_values("warc_ts", kind="stable")
    rp = dim_pdf.sort_values(["obs_ts", "rank_score", "category"], kind="stable")
    rp = rp.drop_duplicates(subset=["domain", "obs_ts"], keep="last")
    rp = rp.sort_values("obs_ts", kind="stable")
    tol = None
    if tolerance_sec is not None:
        tol = (
            pd.Timedelta(seconds=tolerance_sec)
            if pd.api.types.is_datetime64_any_dtype(lp.warc_ts)
            else tolerance_sec
        )
    out = pd.merge_asof(
        lp,
        rp.rename(columns={"obs_ts": "_rts"}),
        left_on="warc_ts",
        right_on="_rts",
        by="domain",
        direction=direction,
        tolerance=tol,
    )
    return out.drop(columns=["_rts"]).sort_values(["url", "warc_ts"]).reset_index(drop=True)


@pytest.mark.parametrize("direction", ["forward", "nearest"])
def test_asof_directions_window_vs_pandas(
    spark, left_df, dim_df, pages_pdf, dim_pdf, direction
):
    got = asof_join_window(
        left_df, dim_df, "domain", "warc_ts", "obs_ts", VALUE_COLS,
        right_tiebreak=["rank_score", "category"], direction=direction,
    ).toPandas()
    _check(got, _oracle_dir(pages_pdf, dim_pdf, direction))


@pytest.mark.parametrize("direction", ["forward", "nearest"])
@pytest.mark.parametrize("tol", [None, 3600.0])
def test_asof_directions_builds_agree(
    spark, left_df, dim_df, pages_pdf, dim_pdf, direction, tol
):
    """Window build ≡ bucketed merge_asof build for every direction ×
    tolerance combination (both also equal the pandas oracle)."""
    a = asof_join_window(
        left_df, dim_df, "domain", "warc_ts", "obs_ts", VALUE_COLS,
        right_tiebreak=["rank_score", "category"],
        direction=direction, tolerance_sec=tol,
    ).toPandas()
    b = asof_join_sorted(
        left_df, dim_df, "domain", "warc_ts", "obs_ts", VALUE_COLS,
        right_tiebreak=["rank_score", "category"], num_buckets=8,
        direction=direction, tolerance_sec=tol,
    ).toPandas()
    pd.testing.assert_frame_equal(_normalize(a), _normalize(b)[a.columns])
    _check(a, _oracle_dir(pages_pdf, dim_pdf, direction, tolerance_sec=tol))


def test_asof_nearest_tie_prefers_backward(spark):
    """Equidistant backward/forward matches resolve to the BACKWARD
    row (pandas' nearest tie rule)."""
    left = spark.createDataFrame(
        pd.DataFrame({"k": ["a"], "ts": [10.0], "row": [1]})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "a"], "ots": [8.0, 12.0], "v": ["back", "fwd"]})
    )
    for build in ("window", "sorted"):
        if build == "window":
            got = asof_join_window(
                left, right, "k", "ts", "ots", ["v"], direction="nearest"
            ).toPandas()
        else:
            got = asof_join_sorted(
                left, right, "k", "ts", "ots", ["v"],
                num_buckets=2, direction="nearest",
            ).toPandas()
        assert got.v.iloc[0] == "back", build


def test_asof_forward_exact_match_inclusive(spark):
    """allow_exact_matches: a right row AT ts_left matches forward."""
    left = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "a"], "ts": [10.0, 11.0], "row": [1, 2]})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"k": ["a"], "ots": [10.0], "v": ["x"]})
    )
    got = (
        asof_join_window(left, right, "k", "ts", "ots", ["v"], direction="forward")
        .orderBy("ts")
        .toPandas()
    )
    assert got.v.iloc[0] == "x"
    assert pd.isna(got.v.iloc[1])


class TestFeatureMatrix:
    def _inputs(self, spark):
        labels = spark.createDataFrame(
            [
                (1, "2024-01-01 10:00:00"),
                (1, "2024-01-01 12:00:00"),
                (2, "2024-01-01 10:00:00"),
            ],
            "uid: long, ts: string",
        ).withColumn("ts", F.to_timestamp("ts"))
        fa = spark.createDataFrame(
            [
                (1, "2024-01-01 09:00:00", 10.0),
                (1, "2024-01-01 12:00:00", 20.0),  # exact-ts visible
                (2, "2024-01-01 11:00:00", 30.0),  # future for 2@10:00
            ],
            "uid: long, ts: string, v: double",
        ).withColumn("ts", F.to_timestamp("ts"))
        fb = spark.createDataFrame(
            [(1, "2024-01-01 09:30:00", 7.0)],
            "uid: long, ts: string, v: double",
        ).withColumn("ts", F.to_timestamp("ts"))
        return labels, fa, fb

    def test_hand_computed(self, spark):
        from med_doi_feature_extraction_spark.operators.asof import (
            feature_matrix,
        )

        labels, fa, fb = self._inputs(spark)
        out = feature_matrix(
            labels,
            {"a": (fa, "ts", "v"), "b": (fb, "ts", "v")},
            "uid",
            "ts",
        )
        got = {
            (r["uid"], str(r["ts"])): (r["a"], r["b"])
            for r in out.collect()
        }
        assert got[(1, "2024-01-01 10:00:00")] == (10.0, 7.0)
        assert got[(1, "2024-01-01 12:00:00")] == (20.0, 7.0)
        assert got[(2, "2024-01-01 10:00:00")] == (None, None)

    def test_tolerance(self, spark):
        from med_doi_feature_extraction_spark.operators.asof import (
            feature_matrix,
        )

        labels, fa, fb = self._inputs(spark)
        out = feature_matrix(
            labels,
            {"a": (fa, "ts", "v"), "b": (fb, "ts", "v")},
            "uid",
            "ts",
            tolerance_sec=1800,
        )
        got = {
            (r["uid"], str(r["ts"])): (r["a"], r["b"])
            for r in out.collect()
        }
        # a@09:00 is 3600s stale for 10:00 → NULL; b@09:30 is exactly
        # 1800s → fresh (<=). exact-ts match always fresh.
        assert got[(1, "2024-01-01 10:00:00")] == (None, 7.0)
        assert got[(1, "2024-01-01 12:00:00")] == (20.0, None)
        # with provenance: a stale match drops the value AND its ts, a
        # fresh one keeps both
        out = feature_matrix(
            labels,
            {"a": (fa, "ts", "v"), "b": (fb, "ts", "v")},
            "uid",
            "ts",
            tolerance_sec=1800,
            emit_match_ts=True,
        )
        got = {
            (r["uid"], str(r["ts"])): tuple(
                None if r[c] is None else str(r[c])
                for c in ("a", "a__ts", "b", "b__ts")
            )
            for r in out.collect()
        }
        assert got[(1, "2024-01-01 10:00:00")] == (
            None, None, "7.0", "2024-01-01 09:30:00"
        )
        assert got[(1, "2024-01-01 12:00:00")] == (
            "20.0", "2024-01-01 12:00:00", None, None
        )
        assert got[(2, "2024-01-01 10:00:00")] == (None,) * 4

    def test_matches_n_single_asof_joins(self, spark):
        """Matrix == composing asof_join_window once per feature."""
        from med_doi_feature_extraction_spark.operators.asof import (
            asof_join_window,
            feature_matrix,
        )

        ev = spark.read.parquet(
            "/root/testdata/sf0.001/events.parquet"
        )
        labels = ev.where(F.col("event_type") == "purchase").select(
            "user_id", "event_id", "ts"
        )
        feats = {}
        for nm, et in [("ev_err", "error"), ("ev_clk", "click")]:
            feats[nm] = (
                ev.where(F.col("event_type") == et)
                .groupBy("user_id", "ts")
                .agg(F.max("value").alias("v")),
                "ts",
                "v",
            )
        mat = feature_matrix(labels, feats, "user_id", "ts")
        ref = labels
        for nm, (fdf, tsc, vc) in feats.items():
            ref = asof_join_window(
                ref,
                fdf.withColumnRenamed(vc, nm),
                "user_id",
                "ts",
                tsc,
                [nm],
            )
        key = ["user_id", "event_id", "ts", "ev_err", "ev_clk"]
        a = sorted(map(tuple, mat.select(*key).collect()))
        b = sorted(map(tuple, ref.select(*key).collect()))
        assert a == b


@pytest.mark.parametrize(
    "build, n_exchanges",
    [
        ("backward", 2),
        ("forward", 2),
        ("nearest", 2),
        ("horizons", 2),
        ("feature_matrix", 1),
    ],
)
def test_spine_exchange_pin(spark, build, n_exchanges):
    """Executed-plan pin of the union-and-window builds: the spine is
    shuffled ONCE on the key whatever the direction, the number of
    horizons or of feature tables (N features cost one exchange, not
    N+1); the single-table builds add one small-side exchange for the
    right-side tie dedup."""
    labels, fa, fb = TestFeatureMatrix()._inputs(spark)
    if build == "feature_matrix":
        out = feature_matrix(
            labels, {"a": (fa, "ts", "v"), "b": (fb, "ts", "v")}, "uid", "ts"
        )
    elif build == "horizons":
        out = asof_join_horizons(
            labels, fa, "uid", "ts", "ts", ["v"], {"h": 3600.0, "d": 86400.0}
        )
    else:
        out = asof_join_window(
            labels, fa, "uid", "ts", "ts", ["v"], direction=build
        )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == n_exchanges, plan


_NULL_RIGHT = [
    (1, "2024-01-01 09:00:00", 1.0),
    (1, "2024-01-01 10:00:00", None),
    (1, "2024-01-01 11:00:00", 3.0),
]


@pytest.mark.parametrize(
    "build, probe, control, control_v",
    [
        ("backward", "10:30", "09:30", 1.0),
        ("forward", "09:30", "10:30", 3.0),
        ("nearest", "10:05", "10:50", 3.0),
        ("horizons", "10:30", "09:30", 1.0),
        ("feature_matrix", "10:30", "09:30", 1.0),
    ],
)
def test_null_valued_match_is_the_answer(
    spark, build, probe, control, control_v
):
    """When the best-matching right row's value is NULL, that NULL is
    the answer: no fallback to an older (or later) non-NULL row. The
    control row's match is non-NULL, so a fallback cannot hide."""

    def frame(rows, schema):
        return spark.createDataFrame(rows, schema).withColumn(
            "ts", F.to_timestamp("ts")
        )

    right = frame(_NULL_RIGHT, "uid: long, ts: string, v: double")
    left = frame(
        [
            (1, f"2024-01-01 {probe}:00", "probe"),
            (1, f"2024-01-01 {control}:00", "control"),
        ],
        "uid: long, ts: string, tag: string",
    )
    if build == "horizons":
        out = asof_join_horizons(
            left, right, "uid", "ts", "ts", ["v"], {"h": 7200.0}
        ).withColumnRenamed("v_h", "v")
    elif build == "feature_matrix":
        out = feature_matrix(left, {"v": (right, "ts", "v")}, "uid", "ts")
    else:
        out = asof_join_window(
            left, right, "uid", "ts", "ts", ["v"], direction=build
        )
    got = {r["tag"]: r["v"] for r in out.collect()}
    assert got == {"probe": None, "control": control_v}


class TestLeakageAudit:
    def test_clean_matrix_and_planted_leak(self, spark):
        from med_doi_feature_extraction_spark.operators.asof import (
            feature_matrix,
            leakage_audit,
        )

        labels = spark.createDataFrame(
            [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 12:00:00")],
            "uid: long, ts: string",
        ).withColumn("ts", F.to_timestamp("ts"))
        fa = spark.createDataFrame(
            [(1, "2024-01-01 09:00:00", 1.0)],
            "uid: long, ts: string, v: double",
        ).withColumn("ts", F.to_timestamp("ts"))
        mat = feature_matrix(
            labels, {"a": (fa, "ts", "v")}, "uid", "ts",
            emit_match_ts=True,
        )
        assert "a__ts" in mat.columns
        clean = leakage_audit(mat, "ts", ["a__ts"]).collect()[0]
        assert clean["n_rows"] == 2 and clean["n_matched"] == 2
        assert clean["n_leaks"] == 0 and clean["max_lead_sec"] is None
        # plant a 30-min future peek on one row
        bad = mat.withColumn(
            "a__ts",
            F.when(
                F.col("ts") == F.to_timestamp(
                    F.lit("2024-01-01 10:00:00")
                ),
                F.col("ts") + F.expr("INTERVAL 30 MINUTES"),
            ).otherwise(F.col("a__ts")),
        )
        leaked = leakage_audit(bad, "ts", ["a__ts"]).collect()[0]
        assert leaked["n_leaks"] == 1
        assert leaked["max_lead_sec"] == 1800

    def test_provenance_null_when_no_match(self, spark):
        from med_doi_feature_extraction_spark.operators.asof import (
            feature_matrix,
        )

        labels = spark.createDataFrame(
            [(2, "2024-01-01 08:00:00")], "uid: long, ts: string"
        ).withColumn("ts", F.to_timestamp("ts"))
        fa = spark.createDataFrame(
            [(2, "2024-01-01 09:00:00", 1.0)],
            "uid: long, ts: string, v: double",
        ).withColumn("ts", F.to_timestamp("ts"))
        row = feature_matrix(
            labels, {"a": (fa, "ts", "v")}, "uid", "ts",
            emit_match_ts=True,
        ).collect()[0]
        assert row["a"] is None and row["a__ts"] is None
