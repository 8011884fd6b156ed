"""Language-model quality scoring (CCNet-style perplexity filter).

The canonical web-curation quality signal: score each document by a
language model trained on a trusted reference corpus (CCNet scores
Common Crawl against a Wikipedia LM and keeps the low-perplexity
head). A neural LM is out of scope for a sandboxed engine, but the
classic statistical form — a smoothed unigram LM — captures the
operator's SHAPE exactly, and that shape is the point here:

- ``train_unigram_lm``: one explode + hash-agg over the reference
  corpus (map-side partials absorb the Zipf head, same argument as
  ``corpus_stats.document_frequency``), then a plan-side 1-row total
  for the add-one normalization. Output is (token, logp) — a
  vocabulary-sized table.
- ``lm_quality_score``: explode the target corpus's tokens (with
  duplicates — the LM scores occurrences), LEFT join the LM table
  (vocabulary-sized ⇒ broadcast; OOV tokens fall to the smoothed
  floor), aggregate mean log-probability per document. One corpus
  exchange (the per-doc agg), one broadcast.

Tokenization is ``dedup.ngrams_all_col(n=1)`` — the single
normalization shared by the dedup tier, ``corpus_stats`` and this
module, so LM vocabulary and scored tokens can never drift apart.
All Column algebra, ln/exp rounded to 6 dp for cross-engine
comparability (the DuckDB oracle runs the identical arithmetic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from med_doi_feature_extraction_spark.kernels.fixed import fixed, fixed_sql

from med_doi_feature_extraction_spark.operators.dedup import ngrams_all_col


def _occurrences(df: DataFrame, text_col: str, *keep: str) -> DataFrame:
    """All token occurrences (duplicates kept, phantom empties from
    splitting blank text dropped)."""
    return df.select(
        *keep, F.explode(ngrams_all_col(text_col, 1)).alias("token")
    ).filter(F.length("token") > 0)


def train_unigram_lm(
    corpus: DataFrame, text_col: str, min_count: int = 1
) -> DataFrame:
    """(token, logp) under add-one smoothing:
    ``logp = ln((c+1) / (total + V + 1))`` where ``total`` is the
    occurrence count and ``V`` the vocabulary size of the reference
    corpus. The out-of-vocabulary floor is ``ln(1 / (total + V + 1))``
    (:func:`oov_logp` computes it from the same table so the two
    cannot drift). ``min_count`` prunes hapax noise AFTER totals are
    taken (pruning must not change the normalizer, or pruned and
    unpruned LMs would disagree on shared tokens)."""
    counts = (
        _occurrences(corpus, text_col)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = counts.agg(
        F.sum("c").alias("_total"), F.count(F.lit(1)).alias("_v")
    )
    lm = counts.crossJoin(F.broadcast(totals)).select(
        "token",
        "c",
        F.log(
            (F.col("c") + 1).cast("double")
            / (F.col("_total") + F.col("_v") + 1).cast("double")
        ).alias("logp"),
        F.log(
            F.lit(1.0) / (F.col("_total") + F.col("_v") + 1).cast("double")
        ).alias("_oov_logp"),
    )
    if min_count > 1:
        lm = lm.filter(F.col("c") >= min_count)
    return lm.drop("c")


def oov_logp(lm: DataFrame) -> float:
    """The LM's out-of-vocabulary floor — one bounded 1-row first()
    (the constant rides every LM row precisely so this never needs
    the source corpus)."""
    row = lm.select("_oov_logp").first()
    if row is None:
        raise ValueError("empty language model")
    return float(row[0])


def lm_quality_score(
    docs: DataFrame,
    lm: DataFrame,
    id_col: str,
    text_col: str,
    oov: float | None = None,
) -> DataFrame:
    """Per-document mean token log-probability under ``lm`` (higher =
    more reference-like) plus perplexity. Returns
    ``(id, n_tokens, logp_per_token, ppl)``; documents with no tokens
    keep NULL metrics (a quality gate must see them, not lose them).

    Plan: occurrence explode → broadcast LEFT join on token (OOV →
    floor) → per-doc hash agg → left join back to the doc spine.
    The only corpus-sized exchange is the per-doc aggregation, keyed
    by document id — no skew by construction."""
    if oov is None:
        oov = oov_logp(lm)
    toks = _occurrences(docs, text_col, id_col)
    scored = toks.join(
        F.broadcast(lm.select("token", "logp")), "token", "left"
    )
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg(F.coalesce(F.col("logp"), F.lit(oov))), 6).alias(
            "logp_per_token"
        ),
    )
    agg = agg.withColumn(
        "ppl", F.round(F.exp(-F.col("logp_per_token")), 3)
    )
    return docs.select(id_col).join(agg, id_col, "left")


def vocab_shift(
    corpus_a: DataFrame,
    corpus_b: DataFrame,
    text_col: str,
) -> DataFrame:
    """Per-token distribution shift between two corpus snapshots — the
    drift monitor a training pipeline runs between crawls (vocabulary
    drift is the earliest observable symptom of a source-mix change).

    Both unigram distributions are add-one smoothed over the UNION
    vocabulary (size V): ``p_x = (c_x + 1) / (total_x + V)``, so every
    token has nonzero mass under both and the log-ratio is always
    finite. Returns one row per union-vocabulary token:
    ``(token, c_a, c_b, logp_a, logp_b, log_ratio, kl_term)`` where
    ``log_ratio = ln(p_b/p_a)`` (positive = token grew) and
    ``kl_term = p_b · log_ratio`` (its contribution to KL(B‖A) —
    rank by it to find the tokens DRIVING the drift).

    Plan: one explode + hash-agg per corpus (Zipf absorbed map-side),
    full-outer join of the two vocabulary-sized count tables, 1-row
    totals broadcast back. No corpus-sized shuffle after the aggs.
    All arithmetic rounded to 6 dp (cross-engine comparable).
    """
    ca = (
        _occurrences(corpus_a, text_col)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c_a"))
    )
    cb = (
        _occurrences(corpus_b, text_col)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c_b"))
    )
    both = ca.join(cb, "token", "full_outer").select(
        "token",
        F.coalesce("c_a", F.lit(0)).alias("c_a"),
        F.coalesce("c_b", F.lit(0)).alias("c_b"),
    )
    totals = both.agg(
        F.sum("c_a").alias("_ta"),
        F.sum("c_b").alias("_tb"),
        F.count(F.lit(1)).alias("_v"),
    )
    p_a = (F.col("c_a") + 1).cast("double") / (F.col("_ta") + F.col("_v")).cast("double")
    p_b = (F.col("c_b") + 1).cast("double") / (F.col("_tb") + F.col("_v")).cast("double")
    return both.crossJoin(F.broadcast(totals)).select(
        "token",
        "c_a",
        "c_b",
        F.round(F.log(p_a), 6).alias("logp_a"),
        F.round(F.log(p_b), 6).alias("logp_b"),
        F.round(F.log(p_b) - F.log(p_a), 6).alias("log_ratio"),
        F.round(p_b * (F.log(p_b) - F.log(p_a)), 6).alias("kl_term"),
    )


def corpus_divergence(shift: DataFrame) -> dict[str, float]:
    """KL(B‖A), KL(A‖B) and Jensen-Shannon divergence from a
    ``vocab_shift`` frame — ONE bounded 1-row aggregate (the shift
    frame is vocabulary-sized). Library-side summary: cross-engine
    float-sum ordering makes it a pytest-pinned quantity, not a
    hash-checked oracle column."""
    row = shift.select(
        F.exp("logp_a").alias("pa"),
        F.exp("logp_b").alias("pb"),
        F.col("log_ratio"),
    ).agg(
        F.sum(F.col("pb") * F.col("log_ratio")).alias("kl_ba"),
        F.sum(F.col("pa") * -F.col("log_ratio")).alias("kl_ab"),
        F.sum(
            0.5 * F.col("pa") * F.log(F.col("pa") / ((F.col("pa") + F.col("pb")) / 2))
            + 0.5 * F.col("pb") * F.log(F.col("pb") / ((F.col("pa") + F.col("pb")) / 2))
        ).alias("js"),
    ).first()
    return {
        "kl_b_from_a": float(row["kl_ba"]),
        "kl_a_from_b": float(row["kl_ab"]),
        "js": float(row["js"]),
    }


# --------------------------------------------------------------- bigram LM


def train_bigram_lm(
    corpus: DataFrame, text_col: str, min_count: int = 1
) -> DataFrame:
    """Conditional bigram table ``(gram, logp2)`` where ``gram`` is the
    space-joined token pair (the dedup tier's shared n-gram string —
    whitespace tokens contain no spaces, so the join key is exact) and
    ``logp2 = ln(c(prev,tok) / c(prev·))``. Maximum-likelihood, NO
    smoothing: unseen transitions are the backoff path's job
    (:func:`bigram_quality_score`), which is exactly the "stupid
    backoff" estimator of Brants et al. 2007 ("Large Language Models
    in Machine Translation") — the scheme built FOR distributed
    corpus-scale LMs because it needs only raw counts, no held-out
    discounting pass.

    Plan: one explode + hash-agg over bigram strings (Zipf head
    absorbed by map-side partials), then the context normalizer
    ``c(prev·)`` is a second agg over the already-vocabulary²-bounded
    count table (prev = the substring before the gram's single space —
    NOT a rescan of the corpus). ``min_count`` prunes AFTER the
    normalizer so pruned and unpruned LMs agree on shared grams."""
    c2 = (
        corpus.select(
            F.explode(ngrams_all_col(text_col, 2)).alias("gram")
        )
        .filter(F.length("gram") > 1)
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    c2 = c2.withColumn(
        "_prev", F.element_at(F.split(F.col("gram"), " ", 2), 1)
    )
    c1 = c2.groupBy("_prev").agg(F.sum("c2").alias("c1"))
    lm = c2.join(c1, "_prev").select(
        "gram",
        "c2",
        F.log(F.col("c2").cast("double") / F.col("c1").cast("double")).alias(
            "logp2"
        ),
    )
    if min_count > 1:
        lm = lm.filter(F.col("c2") >= min_count)
    return lm.drop("c2")


def _units(docs: DataFrame, id_col: str, text_col: str, explode) -> DataFrame:
    """``(id, gram, token)`` scoring units, one per token occurrence:
    the first token has no context (``gram`` NULL), every later token
    carries the bigram of the two non-empty tokens ending at it. Built
    JVM-side from two aligned slices of the non-empty tokens (no
    per-doc window), exploded once by ``explode``
    (``F.explode_outer`` keeps a doc with no tokens as one all-NULL
    unit)."""
    toks = F.filter(
        ngrams_all_col(text_col, 1), lambda t: F.length(t) > 0
    )
    first = F.when(
        F.size(toks) > 0,
        F.array(
            F.struct(
                F.lit(None).cast("string").alias("gram"),
                F.element_at(toks, 1).alias("token"),
            )
        ),
    ).otherwise(
        F.array().cast("array<struct<gram:string,token:string>>")
    )
    width = F.greatest(F.size(toks) - 1, F.lit(0))
    rest = F.zip_with(
        F.slice(toks, 1, width),
        F.slice(toks, 2, width),
        lambda p, t: F.struct(
            F.concat_ws(" ", p, t).alias("gram"), t.alias("token")
        ),
    )
    return docs.select(
        id_col, explode(F.concat(first, rest)).alias("u")
    ).select(
        id_col, F.col("u.gram").alias("gram"), F.col("u.token").alias("token")
    )


def bigram_quality_score(
    docs: DataFrame,
    bigram_lm: DataFrame,
    unigram_lm: DataFrame,
    id_col: str,
    text_col: str,
    alpha: float = 0.4,
    oov: float | None = None,
    broadcast_bigrams: bool = True,
) -> DataFrame:
    """Per-document stupid-backoff bigram score:
    ``score(tok|prev) = logp2(prev,tok)`` when the transition was seen
    in the reference corpus, else ``ln(alpha) + logp1(tok)`` (unigram
    backoff with the Brants-2007 fixed penalty, OOV tokens at the
    add-one floor); a document's FIRST token has no context and scores
    by the unigram directly. Returns
    ``(id, n_tokens, logp_per_token, ppl)`` — same contract as the
    unigram :func:`lm_quality_score`, so quality gates can swap
    estimators without plumbing changes; empty docs keep NULL metrics.

    Plan: the (gram|token) scoring units are built JVM-side from two
    aligned array slices (no per-doc window, no second corpus
    exchange), exploded once. The unigram table is vocabulary-sized ⇒
    always broadcast. The bigram table is vocabulary²-bounded and
    Zipf-concentrated — broadcast while it fits
    (``broadcast_bigrams=True``); at web scale (reference-corpus
    bigram tables run ~10⁸ rows) pass ``False`` to shuffle on the
    8-ish-byte gram key and let AQE pick the join — the skewed hot
    transitions ("of the") are absorbed by AQE skew splitting, and
    the per-doc agg that follows is keyed by document id (no skew by
    construction)."""
    import math

    if oov is None:
        oov = oov_logp(unigram_lm)
    units = _units(docs, id_col, text_col, F.explode)
    lm2 = bigram_lm.select("gram", "logp2")
    if broadcast_bigrams:
        lm2 = F.broadcast(lm2)
    scored = (
        units.join(lm2, "gram", "left")
        .join(F.broadcast(unigram_lm.select("token", "logp")), "token", "left")
        .select(
            id_col,
            F.when(F.col("gram").isNull(), F.coalesce("logp", F.lit(oov)))
            .when(F.col("logp2").isNotNull(), F.col("logp2"))
            .otherwise(
                F.lit(math.log(alpha)) + F.coalesce("logp", F.lit(oov))
            )
            .alias("_s"),
        )
    )
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg("_s"), 6).alias("logp_per_token"),
    )
    agg = agg.withColumn("ppl", F.round(F.exp(-F.col("logp_per_token")), 3))
    return docs.select(id_col).join(agg, id_col, "left")


def js_divergence(
    corpus_a: DataFrame, corpus_b: DataFrame, text_col: str
) -> DataFrame:
    """Hash-exact corpus divergence summary — the oracle-checkable
    upgrade of :func:`corpus_divergence`: Jensen–Shannon divergence
    and both KLs between the two snapshots' smoothed unigram
    distributions, in ONE row ``(v, total_a, total_b, kl_b_from_a,
    kl_a_from_b, jsd, jsd_norm)`` with ``jsd_norm = jsd/ln 2 ∈ [0,1]``
    (6 dp each).

    Distributions are :func:`vocab_shift`'s: add-one smoothed over
    the union vocabulary, ``p_x = (c_x+1)/(total_x+V)`` — every token
    has nonzero mass under both, so all logs are finite.

    Cross-engine determinism: a float sum over the vocabulary is
    addition-order-dependent, which is exactly why
    :func:`corpus_divergence` is pytest-pinned rather than oracled.
    Here each per-token term (``p_b·ln(p_b/m)`` etc., ``m`` the
    mixture) is quantized to nano-units (1e-9) as a BIGINT FIRST, the
    sums are exact integer aggregates (order-free; |term| ≤ ln 2·p ⇒
    Σ|terms| ≤ ln 2 ⇒ nano sums < 10⁹, no overflow), and the final
    division + 6 dp round is one fixed-order double expression. The
    ~1e-9-per-term quantization bias is documented, bounded by
    V·1e-9/2, and identical in both engines — determinism over the
    last three decimal places of accuracy.

    Plan: one explode + hash-agg per corpus (Zipf absorbed map-side),
    full-outer join of the vocabulary-sized count tables, 1-row
    totals broadcast, ONE 1-row final aggregate. No corpus-sized
    shuffle after the counts.
    """
    ca = (
        _occurrences(corpus_a, text_col)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c_a"))
    )
    cb = (
        _occurrences(corpus_b, text_col)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c_b"))
    )
    both = ca.join(cb, "token", "full_outer").select(
        F.coalesce("c_a", F.lit(0)).alias("c_a"),
        F.coalesce("c_b", F.lit(0)).alias("c_b"),
    )
    totals = both.agg(
        F.sum("c_a").cast("long").alias("_ta"),
        F.sum("c_b").cast("long").alias("_tb"),
        F.count(F.lit(1)).cast("long").alias("_v"),
    )
    p_a = (F.col("c_a") + F.lit(1.0)) / (
        F.col("_ta") + F.col("_v")
    ).cast("double")
    p_b = (F.col("c_b") + F.lit(1.0)) / (
        F.col("_tb") + F.col("_v")
    ).cast("double")
    m = (p_a + p_b) / F.lit(2.0)

    terms = both.crossJoin(F.broadcast(totals)).select(
        F.col("_ta"),
        F.col("_tb"),
        F.col("_v"),
        fixed(p_b * F.log(p_b / p_a), 1e9).alias("_kl_ba"),
        fixed(p_a * F.log(p_a / p_b), 1e9).alias("_kl_ab"),
        fixed(p_a * F.log(p_a / m), 1e9).alias("_js_a"),
        fixed(p_b * F.log(p_b / m), 1e9).alias("_js_b"),
    )
    agg = terms.agg(
        F.first("_v").alias("_v2"),
        F.first("_ta").alias("_ta2"),
        F.first("_tb").alias("_tb2"),
        F.sum("_kl_ba").alias("_sba"),
        F.sum("_kl_ab").alias("_sab"),
        F.sum("_js_a").alias("_sja"),
        F.sum("_js_b").alias("_sjb"),
    )
    jsd = (
        (F.col("_sja") + F.col("_sjb")).cast("double") / F.lit(2e9)
    )
    return agg.select(
        F.col("_v2").alias("v"),
        F.col("_ta2").alias("total_a"),
        F.col("_tb2").alias("total_b"),
        F.round(F.col("_sba").cast("double") / F.lit(1e9), 6).alias(
            "kl_b_from_a"
        ),
        F.round(F.col("_sab").cast("double") / F.lit(1e9), 6).alias(
            "kl_a_from_b"
        ),
        F.round(jsd, 6).alias("jsd"),
        F.round(jsd / F.lit(0.6931471805599453), 6).alias("jsd_norm"),
    )


def oracle_js_divergence_sql(a_sql: str, b_sql: str, text_col: str) -> str:
    """DuckDB twin of :func:`js_divergence` — identical smoothing,
    per-token nano-quantized BIGINT terms, same fixed-order finals.
    ``a_sql``/``b_sql`` are relation expressions for the two corpus
    snapshots."""

    pa = "((c_a + 1.0) / (ta + v))"
    pb = "((c_b + 1.0) / (tb + v))"
    m = f"(({pa} + {pb}) / 2.0)"
    return f"""
WITH oa AS (
  SELECT unnest(string_split_regex(lower(trim("{text_col}")), '\\s+'))
    AS token
  FROM {a_sql}
), ob AS (
  SELECT unnest(string_split_regex(lower(trim("{text_col}")), '\\s+'))
    AS token
  FROM {b_sql}
), ca AS (
  SELECT token, count(*) AS c_a FROM oa WHERE len(token) > 0 GROUP BY 1
), cb AS (
  SELECT token, count(*) AS c_b FROM ob WHERE len(token) > 0 GROUP BY 1
), j AS (
  SELECT coalesce(c_a, 0) AS c_a, coalesce(c_b, 0) AS c_b
  FROM ca FULL OUTER JOIN cb USING (token)
), t AS (
  SELECT CAST(sum(c_a) AS BIGINT) AS ta,
         CAST(sum(c_b) AS BIGINT) AS tb,
         CAST(count(*) AS BIGINT) AS v
  FROM j
), s AS (
  SELECT max(v) AS v, max(ta) AS ta2, max(tb) AS tb2,
         CAST(sum({fixed_sql(f'{pb} * ln({pb} / {pa})', 1e9)})
           AS BIGINT) AS sba,
         CAST(sum({fixed_sql(f'{pa} * ln({pa} / {pb})', 1e9)})
           AS BIGINT) AS sab,
         CAST(sum({fixed_sql(f'{pa} * ln({pa} / {m})', 1e9)})
           AS BIGINT) AS sja,
         CAST(sum({fixed_sql(f'{pb} * ln({pb} / {m})', 1e9)})
           AS BIGINT) AS sjb
  FROM j CROSS JOIN t
)
SELECT v, ta2 AS total_a, tb2 AS total_b,
       round((sba)::DOUBLE / 1000000000.0, 6) AS kl_b_from_a,
       round((sab)::DOUBLE / 1000000000.0, 6) AS kl_a_from_b,
       round((sja + sjb)::DOUBLE / 2000000000.0, 6) AS jsd,
       round((sja + sjb)::DOUBLE / 2000000000.0
             / 0.6931471805599453, 6) AS jsd_norm
FROM s
"""


def ccnet_buckets(
    docs: DataFrame,
    lm: DataFrame,
    id_col: str,
    text_col: str,
    lang_col: str,
) -> DataFrame:
    """CCNet head/middle/tail perplexity bucketing (Wenzek 2020 §4.3):
    per language, split scored documents into three buckets by LM
    perplexity — ``head`` = the most reference-like (lowest-ppl)
    third, then ``middle``, then ``tail``; documents the LM cannot
    score (no tokens → NULL ppl) land in ``unscored`` rather than
    silently vanishing. Returns ``(id, lang, ppl, bucket)``.

    Bucketing is by THRESHOLD, not by rank — the scalable CCNet
    shape. Per-language tercile cutoffs ``cut1``/``cut2`` are the
    smallest ppl values whose cumulative scored-doc count reaches
    ``ceil(n/3)`` / ``ceil(2n/3)``; every document compares its ppl
    to the two broadcast cutoffs at the scan. Documents tied on ppl
    therefore always share a bucket (so ``head`` can exceed n/3 by
    the tie mass — the documented threshold semantics, deterministic
    with no id tie-break and identical cross-engine because ppl is
    already 3-dp quantized by :func:`lm_quality_score`).

    Plan, 100 TB lens: ONE scoring pass over the corpus (explode →
    vocab-sized broadcast LM join → per-doc hash-agg), ONE
    (lang, ppl) hash-agg building the bounded histogram (≤ langs ×
    distinct 3-dp ppl values — thousands of rows, not corpus-sized),
    cumulative windows partitioned BY LANGUAGE over that histogram
    only, and a broadcast cutoffs join back. No per-language corpus
    sort anywhere. NULL languages group under '' (both engines drop
    NULL equi-keys, so the sentinel keeps those rows auditable).
    """
    from pyspark.sql import Window

    scored = lm_quality_score(docs, lm, id_col, text_col)
    spine = docs.select(
        id_col, F.coalesce(F.col(lang_col), F.lit("")).alias("lang")
    ).join(scored.select(id_col, "ppl"), id_col)
    hist = (
        spine.filter(F.col("ppl").isNotNull())
        .groupBy("lang", "ppl")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    w_cum = (
        Window.partitionBy("lang")
        .orderBy("ppl")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("lang")
    cum = hist.select(
        "lang",
        "ppl",
        F.sum("_c").over(w_cum).alias("_cum"),
        F.sum("_c").over(w_all).alias("_n"),
    )
    cuts = cum.groupBy("lang").agg(
        F.min(
            F.when(
                F.col("_cum") * 3 >= F.col("_n"), F.col("ppl")
            )
        ).alias("_cut1"),
        F.min(
            F.when(
                F.col("_cum") * 3 >= F.col("_n") * 2, F.col("ppl")
            )
        ).alias("_cut2"),
    )
    return spine.join(F.broadcast(cuts), "lang", "left").select(
        id_col,
        "lang",
        "ppl",
        F.when(F.col("ppl").isNull(), F.lit("unscored"))
        .when(F.col("ppl") <= F.col("_cut1"), F.lit("head"))
        .when(F.col("ppl") <= F.col("_cut2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def oracle_ccnet_buckets_sql(
    rel_sql: str, id_col: str, text_col: str, lang_col: str
) -> str:
    """DuckDB twin of :func:`ccnet_buckets` — the same LM training +
    scoring arithmetic as ``SQL_LM_QUALITY``'s, then the identical
    histogram/threshold recursion. ``ceil(n/3)`` is expressed as the
    integer predicate ``cum*3 >= n`` in both engines."""
    return f"""
WITH occ AS (
  SELECT "{id_col}" AS id,
         unnest(string_split_regex(lower(trim("{text_col}")), '\\s+'))
           AS token
  FROM {rel_sql}
), occf AS (
  SELECT id, token FROM occ WHERE len(token) > 0
), counts AS (
  SELECT token, count(*) AS c FROM occf GROUP BY 1
), tot AS (
  SELECT sum(c) AS total, count(*) AS v FROM counts
), lm AS (
  SELECT token, ln((c + 1)::DOUBLE / (total + v + 1)::DOUBLE) AS logp
  FROM counts, tot
), agg AS (
  SELECT id,
         round(avg(coalesce(lm.logp,
               (SELECT ln(1.0 / (total + v + 1)::DOUBLE) FROM tot))), 6)
           AS logp_per_token
  FROM occf LEFT JOIN lm USING (token)
  GROUP BY id
), spine AS (
  SELECT d."{id_col}" AS id, coalesce(d."{lang_col}", '') AS lang,
         round(exp(-a.logp_per_token), 3) AS ppl
  FROM {rel_sql} d LEFT JOIN agg a ON a.id = d."{id_col}"
), hist AS (
  SELECT lang, ppl, count(*) AS c
  FROM spine WHERE ppl IS NOT NULL GROUP BY 1, 2
), cum AS (
  SELECT lang, ppl,
         sum(c) OVER (PARTITION BY lang ORDER BY ppl
                      ROWS UNBOUNDED PRECEDING) AS cum,
         sum(c) OVER (PARTITION BY lang) AS n
  FROM hist
), cuts AS (
  SELECT lang,
         min(CASE WHEN cum * 3 >= n THEN ppl END) AS cut1,
         min(CASE WHEN cum * 3 >= n * 2 THEN ppl END) AS cut2
  FROM cum GROUP BY lang
)
SELECT s.id AS "{id_col}", s.lang, s.ppl,
       CASE WHEN s.ppl IS NULL THEN 'unscored'
            WHEN s.ppl <= c.cut1 THEN 'head'
            WHEN s.ppl <= c.cut2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM spine s LEFT JOIN cuts c USING (lang)
"""


def train_kn_bigram_lm(
    corpus: DataFrame, text_col: str, discount: float = 0.75
):
    """Interpolated Kneser–Ney bigram model (Kneser & Ney 1995;
    Chen & Goodman 1999 interpolated form) — the discount-based
    upgrade to :func:`train_bigram_lm`'s stupid backoff when the
    quality gate needs calibrated probabilities (mixture weighting,
    ppl bucketing) rather than a monotone score:

    ``P(w2|w1) = max(c(w1w2)−D, 0)/c(w1·) + λ(w1)·P_cont(w2)``
    with ``λ(w1) = D·N1+(w1·)/c(w1·)`` and the CONTINUATION
    distribution ``P_cont(w2) = N1+(·w2)/N1+(··)`` (how many distinct
    contexts a word follows — "francisco" is frequent but follows
    only "san", so its continuation mass is tiny; this is the whole
    point of KN).

    Returns three slim DataFrames ``(bigrams, contexts, conts)``:
    ``bigrams(gram, logp)`` = full interpolated log-prob of SEEN
    bigrams; ``contexts(prev, log_lambda)``; ``conts(token,
    log_pcont)``. All derive from ONE corpus-sized bigram hash-agg —
    every other table is vocabulary-bounded algebra on top of it
    (the distributed-LM property that made stupid backoff famous
    holds for KN too: raw counts in, no held-out pass).

    Composed lazily with :func:`kn_quality_score`, that hash-agg runs
    ONCE per query: every consumer reads the same columns of it, so
    the others read its exchange as a ``ReusedExchange``. The keys are
    declared non-null (a gram always holds one space: no inferred
    ``isnotnull`` is pushed under the aggregate), the joins are LEFT
    (every key exists by construction), and the continuation count is
    the textbook ``N1+`` — contexts with ``c2 ≥ 1`` — which reads
    ``c2``, so column pruning cannot drop the count from that copy.
    """
    if not 0 < discount < 1:
        raise ValueError("discount must be in (0, 1)")
    parts = F.split(F.col("gram"), " ", 2)
    c2 = (
        corpus.select(
            F.explode(ngrams_all_col(text_col, 2)).alias("gram")
        )
        .filter(F.length("gram") > 1)
        .groupBy("gram")
        .agg(F.count(F.lit(1)).cast("long").alias("c2"))
        .select(
            "gram",
            "c2",
            F.coalesce(F.element_at(parts, 1), F.lit("")).alias("_prev"),
            F.coalesce(F.element_at(parts, 2), F.lit("")).alias("_tok"),
        )
    )
    # n1f before c1: the order in which log_lambda reads them, so the
    # contexts copy of this aggregate matches the bigrams copy
    ctx = c2.groupBy("_prev").agg(
        F.count(F.lit(1)).cast("long").alias("n1f"),
        F.sum("c2").cast("long").alias("c1"),
    )
    conts_n = c2.groupBy("_tok").agg(
        F.count_if(F.col("c2") >= 1).cast("long").alias("n1b")
    )
    n1pp = conts_n.agg(
        F.sum("n1b").cast("long").alias("_n1pp")
    )  # 1 row: total distinct bigram types
    pc = conts_n.crossJoin(F.broadcast(n1pp)).select(
        F.col("_tok"),
        (
            F.col("n1b").cast("double") / F.col("_n1pp").cast("double")
        ).alias("_pcont"),
    )
    conts = pc.select(
        F.col("_tok").alias("token"), F.log("_pcont").alias("log_pcont")
    )
    contexts = ctx.select(
        F.col("_prev").alias("prev"),
        F.log(
            F.lit(discount)
            * F.col("n1f").cast("double")
            / F.col("c1").cast("double")
        ).alias("log_lambda"),
    )
    bigrams = (
        c2.join(ctx, "_prev", "left")
        .join(pc, "_tok", "left")
        .select(
            "gram",
            F.log(
                (F.col("c2").cast("double") - F.lit(discount))
                / F.col("c1").cast("double")
                + F.lit(discount)
                * F.col("n1f").cast("double")
                / F.col("c1").cast("double")
                * F.col("_pcont")
            ).alias("logp"),
        )
    )
    return bigrams, contexts, conts


def kn_quality_score(
    docs: DataFrame,
    bigrams: DataFrame,
    contexts: DataFrame,
    conts: DataFrame,
    id_col: str,
    text_col: str,
    broadcast_bigrams: bool = True,
) -> DataFrame:
    """Per-document Kneser–Ney log-prob — same contract as
    :func:`bigram_quality_score` (``id, n_tokens, logp_per_token,
    ppl``; empty docs NULL) so gates can swap estimators. ``id_col``
    is a key: one row per id.

    Scoring, per (prev, token) unit: seen bigram → its interpolated
    ``logp``; unseen bigram with seen context → ``log_lambda(prev) +
    log_pcont(token)``; first token / unseen context → the
    continuation distribution alone (KN's lowest order); tokens never
    seen as a continuation fall to the floor ``ln(1/(N1+(··)+1))`` —
    a 1-row broadcast aggregate, never a driver constant.

    Join shape = :func:`bigram_quality_score`: units built JVM-side
    from aligned array slices, one OUTER explode (a doc with no
    tokens stays as one NULL unit, so no second scan re-joins the
    doc spine); conts/contexts are vocabulary-sized (always
    broadcast); the bigram table broadcasts while it fits
    (``broadcast_bigrams=False`` shuffles on the gram key and lets
    AQE absorb hot-transition skew).
    """
    units = _units(docs, id_col, text_col, F.explode_outer)
    floor = conts.agg(
        F.log(
            F.lit(1.0)
            / (F.count("log_pcont").cast("double") + F.lit(1.0))
        ).alias("_floor")
    )  # 1 row: |continuation vocab| ≤ N1+(··); counting the (never
    # NULL) log_pcont keeps the shared conts aggregate's count
    lm2 = bigrams.select("gram", "logp")
    if broadcast_bigrams:
        lm2 = F.broadcast(lm2)
    prev = F.element_at(F.split(F.col("gram"), " ", 2), 1)
    scored = (
        units.withColumn("_prev", prev)
        .join(lm2, "gram", "left")
        .join(
            F.broadcast(contexts.withColumnRenamed("prev", "_prev")),
            "_prev",
            "left",
        )
        .join(F.broadcast(conts), "token", "left")
        .crossJoin(F.broadcast(floor))
        .select(
            id_col,
            F.when(F.col("token").isNull(), F.lit(None))
            .when(F.col("logp").isNotNull(), F.col("logp"))
            .when(
                F.col("gram").isNotNull() & F.col("log_lambda").isNotNull(),
                F.col("log_lambda")
                + F.coalesce("log_pcont", F.col("_floor")),
            )
            .otherwise(F.coalesce("log_pcont", F.col("_floor")))
            .alias("_s"),
        )
    )
    n = F.count("_s")
    return scored.groupBy(id_col).agg(
        F.when(n > 0, n).alias("n_tokens"),
        F.round(F.avg("_s"), 6).alias("logp_per_token"),
    ).withColumn("ppl", F.round(F.exp(-F.col("logp_per_token")), 3))


def oracle_kn_score_sql(
    corpus_sql: str,
    docs_sql: str,
    id_col: str,
    text_col: str,
    discount: float = 0.75,
) -> str:
    """DuckDB twin of train_kn_bigram_lm + kn_quality_score — the
    oracle RETRAINS the model from the same corpus (kmeans/logreg
    discipline) and re-scores every unit."""
    d = float(discount)
    return rf"""
WITH toks AS (
  SELECT "{id_col}" AS id,
         list_filter(string_split_regex(lower(trim("{text_col}")),
                     '\s+'), t -> length(t) > 0) AS a
  FROM {docs_sql}
),
ctoks AS (
  SELECT string_split_regex(lower(trim("{text_col}")), '\s+') AS a
  FROM {corpus_sql}
),
cg AS (
  SELECT a[i] AS w1, a[i + 1] AS w2
  FROM ctoks, unnest(range(1, len(a))) AS u(i)
  WHERE length(a[i] || ' ' || a[i + 1]) > 1
),
c2 AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
  FROM cg GROUP BY w1, w2
),
ctx AS (
  SELECT w1, CAST(sum(c2) AS BIGINT) AS c1,
         CAST(count(*) AS BIGINT) AS n1f
  FROM c2 GROUP BY w1
),
cb AS (
  SELECT w2, CAST(count(*) AS BIGINT) AS n1b FROM c2 GROUP BY w2
),
npp AS (SELECT CAST(sum(n1b) AS BIGINT) AS n1pp FROM cb),
conts AS (
  SELECT w2 AS token, ln((n1b)::DOUBLE / (npp.n1pp)::DOUBLE)
           AS log_pcont
  FROM cb, npp
),
ctxl AS (
  SELECT w1 AS prev,
         ln({d} * (n1f)::DOUBLE / (c1)::DOUBLE) AS log_lambda
  FROM ctx
),
bg AS (
  SELECT c2.w1 || ' ' || c2.w2 AS gram,
         ln(((c2.c2)::DOUBLE - {d}) / (ctx.c1)::DOUBLE
            + {d} * (ctx.n1f)::DOUBLE / (ctx.c1)::DOUBLE
              * ((cb.n1b)::DOUBLE / (npp.n1pp)::DOUBLE)) AS logp
  FROM c2
  JOIN ctx ON ctx.w1 = c2.w1
  JOIN cb ON cb.w2 = c2.w2
  CROSS JOIN npp
),
flr AS (SELECT ln(1.0 / (count(*)::DOUBLE + 1.0)) AS f FROM conts),
units AS (
  SELECT id,
         CASE WHEN i = 1 THEN NULL
              ELSE a[i - 1] || ' ' || a[i] END AS gram,
         CASE WHEN i = 1 THEN NULL ELSE a[i - 1] END AS prev,
         a[i] AS token
  FROM toks, unnest(range(1, len(a) + 1)) AS u(i)
),
scored AS (
  SELECT u.id,
         CASE
           WHEN b.logp IS NOT NULL THEN b.logp
           WHEN u.gram IS NOT NULL AND cx.log_lambda IS NOT NULL
             THEN cx.log_lambda + coalesce(co.log_pcont, flr.f)
           ELSE coalesce(co.log_pcont, flr.f)
         END AS s
  FROM units u
  LEFT JOIN bg b ON b.gram = u.gram
  LEFT JOIN ctxl cx ON cx.prev = u.prev
  LEFT JOIN conts co ON co.token = u.token
  CROSS JOIN flr
),
agg AS (
  SELECT id, CAST(count(*) AS BIGINT) AS n_tokens,
         round(avg(s), 6) AS logp_per_token
  FROM scored GROUP BY id
)
SELECT t."{id_col}", a.n_tokens, a.logp_per_token,
       round(exp(-a.logp_per_token), 3) AS ppl
FROM {docs_sql} t LEFT JOIN agg a ON a.id = t."{id_col}"
"""
