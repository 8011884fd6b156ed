"""Okapi BM25: hand-computed golden + edge paths (zero-match docs,
empty docs) and job-free construction of the corpus-stats operators."""

from __future__ import annotations

import math

import pytest

from med_doi_feature_extraction_spark.operators.corpus_stats import bm25_score


@pytest.fixture(scope="module")
def scored(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b a c"),
            (2, "b b"),
            (3, ""),
            (4, "zzz yyy"),
        ],
        "doc_id long, text string",
    )
    out = bm25_score(docs, "doc_id", "text", ["a", "b"])
    return {r["doc_id"]: r.asDict() for r in out.collect()}


def test_bm25_golden(scored):
    # N=4, dl = 4,2,0,2 → avgdl = 2.0; df: a→1, b→2
    idf_a = math.log(1 + (4 - 1 + 0.5) / 1.5)
    idf_b = math.log(1 + (4 - 2 + 0.5) / 2.5)
    k1, b = 1.2, 0.75

    def part(idf, tf, dl):
        return idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / 2.0))

    d1 = scored[1]
    want = part(idf_a, 2, 4) + part(idf_b, 1, 4)
    assert d1["bm25"] == pytest.approx(round(want, 6), abs=1e-9)
    assert (d1["dl"], d1["terms_matched"]) == (4, 2)
    d2 = scored[2]
    assert d2["bm25"] == pytest.approx(round(part(idf_b, 2, 2), 6), abs=1e-9)
    assert (d2["dl"], d2["terms_matched"]) == (2, 1)


def test_bm25_zero_match_and_empty(scored):
    assert scored[3] == {"doc_id": 3, "dl": 0, "terms_matched": 0, "bm25": 0.0}
    assert scored[4] == {"doc_id": 4, "dl": 2, "terms_matched": 0, "bm25": 0.0}


def test_corpus_stats_build_starts_no_jobs(spark, no_jobs):
    """N and avgdl are scalar subqueries inside the plan: building
    bm25_score and tfidf_topk must start no Spark job, and the plans
    still score correctly afterwards."""
    from med_doi_feature_extraction_spark.operators.corpus_stats import (
        tfidf_topk,
    )

    docs = spark.createDataFrame(
        [(1, "a b a c"), (2, "b b"), (3, ""), (4, "zzz yyy")],
        "doc_id long, text string",
    )
    with no_jobs():
        bm = bm25_score(docs, "doc_id", "text", ["a", "b"])
        tf = tfidf_topk(docs, "doc_id", "text", k=2, min_df=1)
    assert {r["doc_id"]: r["terms_matched"] for r in bm.collect()} == {
        1: 2, 2: 1, 3: 0, 4: 0,
    }
    # N=4: "a" (tf 2, df 1) tops doc 1 at 2·ln(5/2)
    top1 = [r for r in tf.collect() if r["doc_id"] == 1][0]
    assert (top1["token"], top1["tfidf"]) == ("a", round(2 * math.log(2.5), 6))


class TestTrendingTokens:
    def test_hand_computed_lift(self, spark):
        from med_doi_feature_extraction_spark.operators.corpus_stats import (
            trending_tokens,
        )

        # token "hot" df per bucket: b0=2, b1=2, b2=2, b3=8 (burst)
        rows = []
        did = 0
        for b, n in [(0, 2), (1, 2), (2, 2), (3, 8)]:
            for _ in range(n):
                rows.append((did, b, "hot word")); did += 1
        # token "flat": 3 per bucket
        for b in range(4):
            for _ in range(3):
                rows.append((did, b, "flat filler")); did += 1
        df = spark.createDataFrame(rows, "doc_id: long, day: long, text: string")
        got = {
            (r["bucket"], r["token"]): r
            for r in trending_tokens(df, "text", "day", trail=3, min_count=2).collect()
        }
        burst = got[(3, "hot")]
        assert burst["cnt"] == 8 and burst["trail_avg"] == 2.0
        assert burst["lift"] == round(8 / 3.0, 6)
        flat = got[(3, "flat")]
        assert flat["lift"] == round(3 / 4.0, 6)
        # first bucket: no history → NULL trail/lift ("new", not burst)
        assert got[(0, "hot")]["trail_avg"] is None
        assert got[(0, "hot")]["lift"] is None
