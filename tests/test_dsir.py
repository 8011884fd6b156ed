"""DSIR importance resampling + token-budget mixture sampling.

Both also have DuckDB-oracled contract queries (`dsir_weights`,
`dsir_select`, `mixture_rates`, `token_mixture`); these tests pin the
statistical semantics the hash compare can't localize: sign of the
log-likelihood-ratio on planted corpora, Gumbel-selection determinism
across physical layouts, exact rate arithmetic and clamping.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from med_doi_feature_extraction_spark.operators.dsir import (
    dsir_logweights,
    dsir_select,
    fit_hashed_dist,
    hashed_grams,
)
from med_doi_feature_extraction_spark.operators.sampling import (
    mixture_rates,
    token_budget_sample,
)

DIM = 512


@pytest.fixture(scope="module")
def corpora(spark):
    # target: "alpha"-dialect docs; raw: a mix of alpha and beta dialects
    target = [(i, "alpha beam alpha core alpha flux") for i in range(8)]
    raw = (
        [(100 + i, "alpha beam alpha core alpha flux") for i in range(4)]
        + [(200 + i, "beta node beta grid beta mesh") for i in range(4)]
        + [(300, ""), (301, "   ")]
    )
    t = spark.createDataFrame(target, ["doc_id", "text"]).cache()
    r = spark.createDataFrame(raw, ["doc_id", "text"]).cache()
    return t, r


def test_hashed_grams_counts_and_blank(spark, corpora):
    _, raw = corpora
    one = raw.filter(F.col("doc_id") == 100)
    n = hashed_grams(one, "text", "doc_id", dim=DIM).count()
    # 6 unigrams + 5 bigrams
    assert n == 11
    blank = raw.filter(F.col("doc_id").isin(300, 301))
    assert hashed_grams(blank, "text", "doc_id", dim=DIM).count() == 0


def test_fit_hashed_dist_is_proper(spark, corpora):
    target, _ = corpora
    dist = fit_hashed_dist(target, "text", dim=DIM).collect()
    assert 0 < len(dist) <= DIM
    total_grams = hashed_grams(target, "text", dim=DIM).count()
    denom = total_grams + DIM
    # present-bucket mass + absent-bucket floor mass sums to 1
    mass = sum(math.exp(r["logp"]) for r in dist)
    mass += (DIM - len(dist)) * math.exp(dist[0]["floor_logp"])
    assert mass == pytest.approx(1.0, abs=1e-3)
    assert dist[0]["floor_logp"] == pytest.approx(math.log(1 / denom), abs=1e-5)


def test_dsir_logweights_separate_dialects(spark, corpora):
    target, raw = corpora
    t = fit_hashed_dist(target, "text", dim=DIM)
    q = fit_hashed_dist(raw, "text", dim=DIM)
    w = {
        r["doc_id"]: r
        for r in dsir_logweights(raw, "doc_id", "text", t, q, dim=DIM).collect()
    }
    assert len(w) == raw.count()  # spine join keeps every input row
    alpha = [w[k]["logw"] for k in (100, 101, 102, 103)]
    beta = [w[k]["logw"] for k in (200, 201, 202, 203)]
    # target-like docs score strictly above off-target docs
    assert min(alpha) > max(beta)
    assert max(beta) < 0 < min(alpha)
    # empty docs: weight 1 (logw 0), zero grams
    for k in (300, 301):
        assert w[k]["logw"] == 0.0 and w[k]["n_grams"] == 0


def test_dsir_select_deterministic_across_layout(spark, corpora):
    target, raw = corpora
    t = fit_hashed_dist(target, "text", dim=DIM)
    q = fit_hashed_dist(raw, "text", dim=DIM)
    w = dsir_logweights(raw, "doc_id", "text", t, q, dim=DIM).cache()
    pick = lambda df: [r["doc_id"] for r in dsir_select(df, 5).collect()]
    a = pick(w)
    b = pick(w.repartition(7))
    assert a == b and len(a) == 5
    # selection is weighted toward the target dialect
    assert sum(1 for d in a if 100 <= d < 200) >= 3


def test_mixture_rates_exact(spark):
    rows = [(i, "tok " * 10, "en") for i in range(10)] + [
        (100 + i, "tok " * 10, "de") for i in range(2)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    ntok = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    out = {
        r["group"]: r
        for r in mixture_rates(
            df, "lang", ntok, {"en": 50, "de": 1000, "fr": 7}
        ).collect()
    }
    assert out["en"]["avail_tokens"] == 100 and out["en"]["rate"] == 0.5
    assert out["de"]["rate"] == 1.0  # budget exceeds availability → clamp
    assert "fr" not in out  # no data → no row (rate undefined, not 0)


def test_token_budget_sample_budget_and_unlisted_group(spark):
    rows = [(i, "a b c d e f g h i j", "en") for i in range(400)] + [
        (1000 + i, "a b c d e f g h i j", "xx") for i in range(50)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    ntok = F.lit(10)
    out = token_budget_sample(df, "doc_id", "lang", ntok, {"en": 1000})
    kept = out.groupBy("lang").count().collect()
    by = {r["lang"]: r["count"] for r in kept}
    # unlisted group dropped entirely
    assert "xx" not in by
    # expected 100 surviving en docs (1000 tokens / 10 per doc); hash
    # uniform at n=400, p=0.25 → allow ±4σ ≈ ±35
    assert 65 <= by["en"] <= 135
    # deterministic across layouts
    ids1 = {r["doc_id"] for r in out.collect()}
    out2 = token_budget_sample(
        df.repartition(13), "doc_id", "lang", ntok, {"en": 1000}
    )
    assert {r["doc_id"] for r in out2.collect()} == ids1


def test_interleave_prefix_proportions(spark):
    from med_doi_feature_extraction_spark.operators.sampling import (
        interleave_order,
    )

    rows = (
        [(i, "a") for i in range(3000)]
        + [(10_000 + i, "b") for i in range(3000)]
        + [(20_000 + i, "c") for i in range(500)]
    )
    df = spark.createDataFrame(rows, ["doc_id", "src"])
    out = interleave_order(df, "src", "doc_id", {"a": 0.6, "b": 0.4})
    got = out.orderBy("interleave_key", "doc_id").collect()
    # source c unnamed by the mixture -> dropped entirely
    assert {r["src"] for r in got} <= {"a", "b"}
    # every sizeable prefix tracks the 60/40 mixture
    for k in (1000, 2000, 4000):
        frac_a = sum(1 for r in got[:k] if r["src"] == "a") / k
        assert abs(frac_a - 0.6) < 0.05, (k, frac_a)
    # deterministic across physical layout
    got2 = (
        interleave_order(df.repartition(17), "src", "doc_id",
                         {"a": 0.6, "b": 0.4})
        .orderBy("interleave_key", "doc_id")
        .collect()
    )
    assert [r["doc_id"] for r in got2] == [r["doc_id"] for r in got]


def test_interleave_exhaustion_semantics(spark):
    """An over-weighted small source exhausts partway: the tail of the
    order is pure majority source (single-epoch semantics)."""
    from med_doi_feature_extraction_spark.operators.sampling import (
        interleave_order,
    )

    rows = [(i, "big") for i in range(2000)] + [
        (10_000 + i, "tiny") for i in range(100)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "src"])
    out = (
        interleave_order(df, "src", "doc_id", {"big": 0.5, "tiny": 0.5})
        .orderBy("interleave_key", "doc_id")
        .collect()
    )
    # tiny is spent in (roughly) the first tenth; the last half is big-only
    tail = out[len(out) // 2:]
    assert all(r["src"] == "big" for r in tail)
    head = out[:220]
    assert sum(1 for r in head if r["src"] == "tiny") > 70


def test_dsir_logweights_fused_parity(spark):
    """dsir_logweights_fused == two fits + dsir_logweights, row-for-row,
    including the empty-target edge (all-NULL llr -> logw coalesced
    to 0)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from med_doi_feature_extraction_spark.operators import dsir

    texts = [
        ("a b c a", "en"), ("b c d", "en"), ("x y z", "de"),
        ("a x", "de"), ("", "en"), (None, "de"), ("c c c", "en"),
        ("d a b", "fr"), ("y x z z", "en"),
    ]
    df = (
        spark.createDataFrame(pd.DataFrame(texts, columns=["text", "lang"]))
        .withColumn("doc_id", F.monotonically_increasing_id())
    )
    dim = 64
    for cond in (F.col("lang") == "en", F.col("lang") == "xx"):
        got = dsir.dsir_logweights_fused(
            df, "doc_id", "text", cond, dim=dim
        )
        t = dsir.fit_hashed_dist(df.filter(cond), "text", dim=dim)
        q = dsir.fit_hashed_dist(df, "text", dim=dim)
        ref = dsir.dsir_logweights(df, "doc_id", "text", t, q, dim=dim)
        r = lambda d: sorted(
            (x["doc_id"], x["n_grams"], x["logw"]) for x in d.collect()
        )
        assert r(got) == r(ref)
