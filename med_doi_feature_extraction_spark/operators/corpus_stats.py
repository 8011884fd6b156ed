"""Corpus-level token statistics: document frequency, IDF, per-doc
TF-IDF top-k terms.

The corpus-wide half of the text-analysis surface (per-doc scalars
live in ``kernels/features.py``): vocabulary statistics need a
global aggregation over 10^12 documents, so the plan shape is the
whole design:

- ``document_frequency``: explode DISTINCT tokens per doc →
  groupBy(token) count. ONE exchange, with map-side partial
  aggregation doing the heavy lifting (a token appearing in 10^9
  docs arrives at its reducer as ~n_partitions partial counts, not
  10^9 rows). Natural-language token frequency is Zipfian — the
  textbook skewed key — and partial aggregation is precisely the
  standard fix, so no salting is needed here.
- ``tfidf_topk``: per-doc term frequency (keys prefixed by doc id —
  no hot keys) joined against the df table on token — a second
  aggregate over the same tf exchange, so the text is exploded once.
  The df table at web scale is ~vocabulary-sized (millions, not
  trillions) — far below the corpus but above blind-broadcast
  comfort; the join is left to AQE, which broadcast-converts it when
  the (filtered) df side fits. ``min_df`` prunes hapax noise BEFORE
  the join, shrinking the build side by ~half (Zipf: ~50% of
  vocabulary occurs once). In the non-broadcast regime the join
  shuffles on the Zipf-skewed token key — AQE skew-join splits the
  hot partitions; exercised by ``tests/test_skew.py::
  test_tfidf_join_skew_non_broadcast`` (dominant token in every doc,
  auto-broadcast disabled, exact parity with the broadcast plan).
  For corpora where even that regime strains, raise ``min_df`` (the
  head of the Zipf curve survives any min_df, so skew is unchanged,
  but the build side shrinks ~2× per unit).

IDF uses the smoothed form ln((N+1)/(df+1)) — deterministic, no
zero-division, SQL-reproducible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from med_doi_feature_extraction_spark.kernels.fixed import fixed, fixed_sql

from med_doi_feature_extraction_spark.operators.dedup import (
    ngrams_all_col,
    tokens_col,
)


def document_frequency(
    df: DataFrame, text_col: str, min_df: int = 1
) -> DataFrame:
    """(token, df) — number of documents containing each token
    (per-doc distinctness comes from ``tokens_col``'s
    ``array_distinct``; no id column is needed).

    The phantom empty token is filtered out: splitting empty text
    (or text with leading non-space whitespace, which F.trim keeps)
    yields "" elements, and without the filter "" would become the
    corpus's highest-df 'term' — a manufactured Zipf hot key."""
    toks = df.select(
        F.explode(tokens_col(text_col)).alias("token")
    ).filter(F.length("token") > 0)
    out = toks.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    if min_df > 1:
        out = out.filter(F.col("df") >= min_df)
    return out


def tfidf_topk(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    min_df: int = 1,
) -> DataFrame:
    """Top-k tokens per document by tf·idf (ties → token asc).

    The corpus size N is a scalar subquery inside the plan, so building
    the operator starts no Spark job. Returns (id, token, tf, df,
    tfidf) with tfidf rounded to 6 dp for cross-engine comparability.
    ``id_col`` is a key: df counts distinct ids.
    """
    n_docs = docs.select(F.count(F.lit(1))).scalar()
    # per-doc term frequency (doc-id-prefixed keys, no skew) over the
    # ONE tokenization shared with the dedup tier and document_frequency
    tf = (
        docs.select(
            F.col(id_col),
            F.explode(ngrams_all_col(text_col, 1)).alias("token"),
        )
        .filter(F.length("token") > 0)
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # df = docs with tf ≥ 1: reading tf keeps this copy of the tf
    # aggregate identical, so its exchange is reused (one explode)
    dfreq = tf.groupBy("token").agg(F.count_if(F.col("tf") >= 1).alias("df"))
    if min_df > 1:
        dfreq = dfreq.filter(F.col("df") >= min_df)
    idf = F.log((n_docs + 1).cast("double") / (F.col("df") + 1).cast("double"))
    scored = tf.join(dfreq, "token").withColumn(
        "tfidf", F.round(F.col("tf") * idf, 6)
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(id_col, "token", "tf", "df", "tfidf")
    )


def build_postings(
    df: DataFrame,
    id_col: str,
    text_col: str,
    cap: int = 1000,
    n_salts: int = 16,
) -> DataFrame:
    """Capped inverted index: one row per token with its EXACT document
    frequency and the ``cap`` SMALLEST doc ids as a csv string
    (``postings``) plus a ``truncated`` flag.

    Deterministic cap semantics — "the cap smallest ids", not "some
    cap ids" — so the index is stable across runs, partitionings, and
    engines (the DuckDB oracle is a plain sort+slice).

    Scale shape (the interesting part — a hot token's posting list at
    10^12 docs is itself web-scale): stage 1 ranks ids within
    (token, salt-of-doc) groups, so the per-reducer sort is bounded
    by occurrences/n_salts (and window sorts spill); stage 2 merges
    at most n_salts × cap survivors per token — a bounded
    collect_list, immune to token heat by construction. Exact df
    comes from the standard partial-agg count (the
    ``document_frequency`` argument: Zipf heads collapse map-side).
    Raise ``n_salts`` with cluster size; ``cap`` bounds output row
    width everywhere.
    """
    toks = (
        df.select(
            F.col(id_col).alias("_d"),
            F.explode(tokens_col(text_col)).alias("token"),
        )
        .filter(F.length("token") > 0)
    )
    dfreq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("doc_freq"))
    salted = toks.withColumn("_s", F.pmod(F.xxhash64("_d"), F.lit(n_salts)))
    w = Window.partitionBy("token", "_s").orderBy("_d")
    survivors = (
        salted.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
    )
    posting = survivors.groupBy("token").agg(
        F.slice(F.array_sort(F.collect_list("_d")), 1, cap).alias("_ids")
    )
    return posting.join(dfreq, "token").select(
        "token",
        "doc_freq",
        F.array_join(
            F.transform("_ids", lambda x: x.cast("string")), ","
        ).alias("postings"),
        (F.col("doc_freq") > F.lit(cap)).alias("truncated"),
    )


def corpus_card(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    **gopher_bounds,
) -> DataFrame:
    """Per-language corpus datasheet: the one-pass health summary a
    curation run publishes with its output (the "datasheet /
    dataset card" numbers — Gebru et al. 2021 practice). Columns per
    language: document and whitespace-token counts, exact distinct-
    text fraction (1 − dup share), Gopher word-stat pass rate,
    encoding-clean rate, mean tokens per doc.

    One scan computes every per-doc signal (all scan-stage Column
    algebra from `gopher`, `encoding`, token split), then ONE
    hash-agg on language; the distinct-text count expands to the
    standard two-level agg keyed on the sha2 digest (text itself
    never shuffles) — that count-distinct is the only corpus-sized
    exchange, everything else rides partial aggregation. Rates are
    exact integer ratios rounded 4 dp, hash-comparable
    cross-engine."""
    from med_doi_feature_extraction_spark.operators.encoding import (
        encoding_features,
    )
    from med_doi_feature_extraction_spark.operators.gopher import (
        gopher_gate,
    )

    d = gopher_gate(
        encoding_features(df, text_col), text_col, **gopher_bounds
    )
    n = F.count(F.lit(1))
    agg = d.groupBy(F.col(lang_col).alias("lang")).agg(
        n.alias("n_docs"),
        F.sum("n_words").alias("n_tokens"),
        F.countDistinct(F.sha2(F.coalesce(F.col(text_col), F.lit("")), 256))
        .alias("n_distinct"),
        F.sum(F.col("gopher_keep").cast("long")).alias("_gk"),
        F.sum(F.col("enc_clean").cast("long")).alias("_ec"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_distinct") / F.col("n_docs"), 4).alias(
            "distinct_frac"
        ),
        F.round(F.col("_gk") / F.col("n_docs"), 4).alias("gopher_pass_rate"),
        F.round(F.col("_ec") / F.col("n_docs"), 4).alias("enc_clean_rate"),
        F.round(F.col("n_tokens") / F.col("n_docs"), 4).alias(
            "mean_doc_tokens"
        ),
    )


def bm25_score(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 of every document against a bounded query-term set
    (Robertson/Sparck Jones; the Lucene always-positive idf form
    ``ln(1 + (N - df + 0.5)/(df + 0.5))``). Returns
    ``(id, dl, terms_matched, bm25)`` for ALL documents — zero-match,
    empty and NULL-text docs score 0.0 with ``dl`` 0, a retrieval gate
    must see them.

    Scale shape: the query set is a plan literal, so each doc's
    per-term tf is an array of |Q| counts built in the scan stage
    (after ``array_contains`` pruning). N, mean doc length and the |Q|
    document frequencies are ONE struct-valued scalar subquery (a
    1-row aggregate) inside the plan, so building the operator starts
    no Spark job. Two passes over the text — that aggregate and the
    scoring projection — and no corpus-sized shuffle: one output row
    per input row, no doc spine to re-join.
    """
    terms = sorted(set(query_terms))
    qarr = F.array(*[F.lit(t) for t in terms])
    base = docs.select(
        F.col(id_col),
        F.filter(
            ngrams_all_col(text_col, 1), lambda t: F.length(t) > 0
        ).alias("_toks"),
    ).select(
        id_col,
        F.coalesce(F.size("_toks"), F.lit(0)).alias("dl"),
        F.filter("_toks", lambda t: F.array_contains(qarr, t)).alias("_q"),
    ).select(
        id_col,
        "dl",
        F.transform(
            qarr, lambda q: F.size(F.filter("_q", lambda t: t == q))
        ).alias("_tf"),
    )
    stats = base.select(
        F.struct(
            F.count(F.lit(1)).alias("n"),
            F.avg("dl").alias("a"),
            F.array(
                *[F.count_if(F.col("_tf")[i] > 0) for i in range(len(terms))]
            ).alias("df"),
        )
    ).scalar()
    n_docs = F.col("_st.n").cast("double")
    avgdl = F.greatest(F.coalesce("_st.a", F.lit(0.0)), F.lit(1e-12))
    denom_len = F.lit(k1) * (
        F.lit(1.0 - b)
        + F.lit(b) * F.col("dl").cast("double") / avgdl
    )

    def contrib(tf, df):  # noqa: ANN001, ANN202
        idf = F.log(F.lit(1.0) + (n_docs - df + 0.5) / (df + 0.5))
        return F.when(
            tf > 0, idf * (tf * (k1 + 1.0) / (tf + denom_len))
        )

    return base.withColumn("_st", stats).select(
        id_col,
        "dl",
        F.filter(
            F.zip_with("_tf", "_st.df", contrib), lambda c: c.isNotNull()
        ).alias("_c"),
    ).select(
        id_col,
        F.col("dl").cast("long").alias("dl"),
        F.size("_c").cast("long").alias("terms_matched"),
        F.round(F.aggregate("_c", F.lit(0.0), lambda s, c: s + c), 6)
        .alias("bm25"),
    )


def trending_tokens(
    df: DataFrame,
    text_col: str,
    bucket_col: str,
    trail: int = 3,
    min_count: int = 2,
) -> DataFrame:
    """Burst / trend detection over time buckets: per ``(bucket,
    token)`` document frequency vs the token's trailing mean over its
    previous ``trail`` OBSERVED buckets → ``lift = cnt/(trail_avg+1)``
    (the +1 damps tiny-history explosions; a token with no history at
    all keeps NULL trail/lift — "new", not "bursting", and the caller
    decides which matters). The corpus-monitoring twin of
    ``lm.vocab_shift``: shift compares two whole snapshots, this
    ranks WHERE and WHEN the drift concentrates.

    Shape: one explode → (bucket, token) hash-agg (partial agg
    absorbs Zipf heat exactly like ``document_frequency``), then a
    rows-frame window partitioned by token — buckets per token are
    unique post-agg, so the frame is well-defined; the window input
    is the aggregated (buckets × vocab) table, not the corpus.
    Trailing frame = previous observed buckets, NOT calendar-adjacent
    ones (a token absent from a bucket contributes no zero row —
    densify upstream with ``operators.resample`` if gaps must count).

    Floats: lift/trail_avg round-6 on OUTPUT only; the lift divides
    the unrounded trailing mean (the score_propagation lesson —
    rounding intermediates parks results on the rounding grid).
    """
    from med_doi_feature_extraction_spark.operators.dedup import tokens_col

    toks = df.select(
        F.col(bucket_col).alias("bucket"),
        F.explode(tokens_col(text_col)).alias("token"),
    ).filter(F.length("token") > 0)
    counts = toks.groupBy("bucket", "token").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = (
        Window.partitionBy("token")
        .orderBy("bucket")
        .rowsBetween(-trail, -1)
    )
    ta = F.avg("cnt").over(w)
    return (
        counts.withColumn("trail_avg", F.round(ta, 6))
        .withColumn("lift", F.round(F.col("cnt") / (ta + F.lit(1.0)), 6))
        .filter(F.col("cnt") >= min_count)
        .select("bucket", "token", "cnt", "trail_avg", "lift")
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str,
    min_count: int = 5,
    k: int = 100,
) -> DataFrame:
    """Collocation extraction: top-k word bigrams by pointwise mutual
    information — ``pmi(a,b) = ln( P(ab) / (P(a)·P(b)) )`` with
    occurrence-frequency estimates ``P(ab)=c_ab/N2``, ``P(w)=c_w/N1``
    (Church & Hanks 1990). The vocabulary-building companion of
    ``document_frequency``: high-PMI bigrams are the multi-word units
    a tokenizer/phrase-merger should treat as one symbol.

    Shape at 10^12 docs: two explode→hash-agg passes (unigram and
    bigram occurrence counts — Zipf heat absorbed map-side exactly
    like ``document_frequency``), two 1-row totals broadcast by
    crossJoin, then the surviving (``c_ab ≥ min_count``) bigram table
    joins the unigram table twice on its two words — vocabulary-sized
    build sides, AQE broadcast-converts when they fit, ``min_count``
    prunes the probe side hard (Zipf: most bigrams are rare). Final
    top-k is a bounded TakeOrderedAndProject under the total order
    ``(round(pmi,6) DESC, gram ASC)`` — deterministic across engines.

    Floats: the PMI ln() runs on full-precision counts in ONE
    expression shape shared verbatim with the DuckDB oracle
    (``ln(c_ab·N1·N1 / (N2·c_a·c_b))``), rounded 6 dp on output only.
    Empty tokens (blank docs) are filtered from both unigram and
    bigram streams, mirrored in the oracle.
    """
    from med_doi_feature_extraction_spark.operators.dedup import (
        ngrams_all_col,
    )

    uni = (
        df.select(F.explode(ngrams_all_col(text_col, 1)).alias("w"))
        .where(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    parts = F.split(F.col("gram"), " ")
    big = (
        df.select(F.explode(ngrams_all_col(text_col, 2)).alias("gram"))
        .select(
            "gram",
            F.element_at(parts, 1).alias("w1"),
            F.element_at(parts, 2).alias("w2"),
        )
        .where((F.length("w1") > 0) & (F.length("w2") > 0))
        .groupBy("gram", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    n1 = uni.agg(F.sum("c").cast("double").alias("_n1"))
    n2 = big.agg(F.sum("c_ab").cast("double").alias("_n2"))
    ua = uni.select(F.col("w").alias("w1"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("w").alias("w2"), F.col("c").alias("c_b"))
    scored = (
        big.where(F.col("c_ab") >= min_count)
        .join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
    )
    pmi = F.log(
        (F.col("c_ab").cast("double") * F.col("_n1") * F.col("_n1"))
        / (
            F.col("_n2")
            * F.col("c_a").cast("double")
            * F.col("c_b").cast("double")
        )
    )
    return (
        scored.select(
            "gram",
            "c_ab",
            "c_a",
            "c_b",
            F.round(pmi, 6).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), F.col("gram").asc())
        .limit(k)
    )


def vocab_growth(
    df: DataFrame,
    bucket_col: str,
    text_col: str,
) -> DataFrame:
    """Vocabulary growth curve (Heaps' law) over an ordered corpus —
    the scaling-law health check for a growing crawl: distinct-type
    count V should grow ≈ K·N^β (β ≈ 0.4–0.6 for natural text)
    against cumulative token count N. A β collapsing toward 0 means
    the crawl is re-ingesting what it already has (dedup upstream is
    failing or the frontier is exhausted); β ≈ 1 means the "text" is
    unique-id noise. The caller supplies the integer ``bucket_col``
    defining corpus order (crawl day, shard index, doc_id range) —
    growth is only meaningful along an order.

    One row per bucket (ascending): ``bucket, n_docs, n_tokens,
    new_types`` (types first seen in this bucket), ``cum_tokens,
    cum_types``, and the table-level Heaps fit repeated per row:
    ``heaps_beta, heaps_log_k`` (6 dp; OLS of ln cum_types on
    ln cum_tokens across the bucket points; NULL when < 2 buckets or
    degenerate).

    Execution shape, 100 TB lens: ONE explode → (token) hash-agg
    computing each type's FIRST bucket (min) — the only corpus-sized
    exchange, map-side partials absorb Zipf; per-bucket token/doc
    counts are a second ≤ n_buckets-group hash-agg on the same scan
    shape. Everything downstream (cumulatives, the OLS) runs on the
    BOUNDED bucket table (single-partition window over ≤ thousands
    of rows). OLS terms are micro-quantized BIGINTs before summing
    (order-free; the ln inputs are ratios of exact BIGINTs).
    """
    toks = ngrams_all_col(text_col, 1)
    occ = df.select(
        F.col(bucket_col).cast("long").alias("_b"),
        F.explode(toks).alias("_t"),
    ).filter(F.length("_t") > 0)
    first_bucket = occ.groupBy("_t").agg(
        F.min("_b").alias("_b0")
    )
    new_types = first_bucket.groupBy(
        F.col("_b0").alias("_b")
    ).agg(F.count(F.lit(1)).cast("long").alias("new_types"))
    per_bucket = occ.groupBy("_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens")
    )
    docs_per = (
        df.select(F.col(bucket_col).cast("long").alias("_b"))
        .groupBy("_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    base = (
        docs_per.join(per_bucket, "_b", "left")
        .join(new_types, "_b", "left")
        .select(
            "_b",
            "n_docs",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias(
                "n_tokens"
            ),
            F.coalesce("new_types", F.lit(0)).cast("long").alias(
                "new_types"
            ),
        )
    )
    w = Window.orderBy("_b").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = base.select(
        "_b",
        "n_docs",
        "n_tokens",
        "new_types",
        F.sum("n_tokens").over(w).cast("long").alias("cum_tokens"),
        F.sum("new_types").over(w).cast("long").alias("cum_types"),
    )
    # Heaps OLS on (ln cum_tokens, ln cum_types) over buckets with
    # cum_tokens > 0 — micro-quantized BIGINT moment sums
    lx = F.log(F.col("cum_tokens").cast("double"))
    ly = F.log(F.col("cum_types").cast("double"))

    pts = cum.filter(
        (F.col("cum_tokens") > 0) & (F.col("cum_types") > 0)
    ).select(fixed(lx).alias("_ux"), fixed(ly).alias("_uy"))
    fit = pts.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("_ux").cast("long").alias("_sx"),
        F.sum("_uy").cast("long").alias("_sy"),
        F.sum(F.col("_ux") * F.col("_uy")).cast("long").alias("_sxy"),
        F.sum(F.col("_ux") * F.col("_ux")).cast("long").alias("_sxx"),
    )
    n = F.col("_n")
    num = (n * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast(
        "double"
    )
    den = (n * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast(
        "double"
    )
    beta = F.when((n >= 2) & (den > 0), num / den)
    logk = F.when(
        (n >= 2) & (den > 0),
        (
            F.col("_sy").cast("double")
            - num / den * F.col("_sx").cast("double")
        )
        / n.cast("double")
        / F.lit(1e6),
    )
    fit_row = fit.select(
        (fixed(beta) / 1e6).alias("heaps_beta"),
        (fixed(logk) / 1e6).alias("heaps_log_k"),
    )
    return (
        cum.crossJoin(F.broadcast(fit_row))
        .select(
            F.col("_b").alias("bucket"),
            "n_docs",
            "n_tokens",
            "new_types",
            "cum_tokens",
            "cum_types",
            "heaps_beta",
            "heaps_log_k",
        )
        .orderBy("bucket")
    )


def oracle_vocab_growth_sql(
    rel_sql: str, bucket_expr: str, text_col: str
) -> str:
    """DuckDB twin of :func:`vocab_growth`."""

    num = "(n * sxy - sx * sy)::DOUBLE"
    den = "(n * sxx - sx * sx)::DOUBLE"
    beta = f"{num} / {den}"
    logk = (
        f"((sy)::DOUBLE - {num} / {den} * (sx)::DOUBLE)"
        " / (n)::DOUBLE / 1000000.0"
    )
    return rf"""
WITH occ AS (
  SELECT CAST({bucket_expr} AS BIGINT) AS b,
         unnest(string_split_regex(lower(trim("{text_col}")), '\s+'))
           AS t
  FROM {rel_sql}
),
occ2 AS (SELECT b, t FROM occ WHERE len(t) > 0),
firstb AS (SELECT t, min(b) AS b0 FROM occ2 GROUP BY t),
newt AS (SELECT b0 AS b, CAST(count(*) AS BIGINT) AS new_types
         FROM firstb GROUP BY b0),
perb AS (SELECT b, CAST(count(*) AS BIGINT) AS n_tokens
         FROM occ2 GROUP BY b),
docs AS (SELECT CAST({bucket_expr} AS BIGINT) AS b,
                CAST(count(*) AS BIGINT) AS n_docs
         FROM {rel_sql} GROUP BY 1),
base AS (
  SELECT d.b, d.n_docs,
         coalesce(p.n_tokens, 0) AS n_tokens,
         coalesce(nt.new_types, 0) AS new_types
  FROM docs d
  LEFT JOIN perb p ON p.b = d.b
  LEFT JOIN newt nt ON nt.b = d.b
),
cum AS (
  SELECT *,
         CAST(sum(n_tokens) OVER (ORDER BY b
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum_tokens,
         CAST(sum(new_types) OVER (ORDER BY b
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum_types
  FROM base
),
pts AS (
  SELECT {fixed_sql('ln((cum_tokens)::DOUBLE)')} AS ux,
         {fixed_sql('ln((cum_types)::DOUBLE)')} AS uy
  FROM cum WHERE cum_tokens > 0 AND cum_types > 0
),
fit AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(ux) AS BIGINT) AS sx, CAST(sum(uy) AS BIGINT) AS sy,
         CAST(sum(ux * uy) AS BIGINT) AS sxy,
         CAST(sum(ux * ux) AS BIGINT) AS sxx
  FROM pts
),
fitted AS (
  SELECT CASE WHEN n >= 2 AND {den} > 0
              THEN {fixed_sql(beta)} / 1000000.0 END AS heaps_beta,
         CASE WHEN n >= 2 AND {den} > 0
              THEN {fixed_sql(logk)} / 1000000.0 END AS heaps_log_k
  FROM fit
)
SELECT b AS bucket, n_docs, n_tokens, new_types,
       cum_tokens, cum_types, heaps_beta, heaps_log_k
FROM cum CROSS JOIN fitted
ORDER BY bucket
"""


def zipf_fit(
    df: DataFrame,
    text_col: str,
    group_col: str | None = None,
    fmin: int = 2,
) -> DataFrame:
    """Zipf / discrete power-law exponent of the token frequency
    distribution, per ``group_col`` slice (or one global row):
    the Clauset–Shalizi–Newman (2009, §3.2) discrete MLE
    approximation ``alpha = 1 + n / Σ ln(f_i / (fmin - 0.5))`` over
    types with frequency ≥ ``fmin``. Natural prose sits near
    alpha ≈ 1.7–2.2 over word frequencies; a crawl slice drifting
    low (heavy tail of near-unique junk tokens) or high (template
    text re-stamped everywhere) is the corpus-health tell Heaps'
    beta (:func:`vocab_growth`) sees from the other side.

    One row per group: ``n_types`` (all types), ``tail_types``
    (f ≥ fmin), ``n_tokens``, ``zipf_alpha`` (6 dp; NULL when no
    tail types or a degenerate log-sum).

    Execution shape, 100 TB lens: ONE explode → (group, token)
    hash-agg — the only corpus-sized exchange, map-side partials
    absorbing Zipf skew by construction — then a ≤ groups-sized
    hash-agg of micro-quantized BIGINT log terms (order-free exact
    sums, the vocab_growth discipline). No windows, no sorts, no
    driver math.
    """
    if fmin < 2:
        raise ValueError("fmin must be >= 2 (fmin-0.5 must exceed 1)")
    from med_doi_feature_extraction_spark.operators.dedup import (
        ngrams_all_col,
    )

    g = (
        F.col(group_col).cast("string")
        if group_col
        else F.lit("all")
    ).alias("grp")
    occ = df.select(
        g, F.explode(ngrams_all_col(text_col, 1)).alias("_t")
    ).filter(F.length("_t") > 0)
    freq = occ.groupBy("grp", "_t").agg(
        F.count(F.lit(1)).cast("long").alias("_f")
    )

    tail = F.col("_f") >= F.lit(fmin)
    lterm = F.log(F.col("_f").cast("double") / F.lit(fmin - 0.5))
    per = freq.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(tail.cast("long")).cast("long").alias("tail_types"),
        F.sum("_f").cast("long").alias("n_tokens"),
        F.sum(F.when(tail, fixed(lterm)).otherwise(F.lit(0)))
        .cast("long")
        .alias("_s"),
    )
    alpha = F.lit(1.0) + F.col("tail_types").cast("double") / (
        F.col("_s").cast("double") / F.lit(1e6)
    )
    return per.select(
        F.col("grp").alias("group"),
        "n_types",
        "tail_types",
        "n_tokens",
        F.when(
            (F.col("tail_types") > 0) & (F.col("_s") > 0), fixed(alpha) / 1e6
        ).alias("zipf_alpha"),
    )


def oracle_zipf_fit_sql(
    rel_sql: str,
    text_col: str,
    group_expr: str | None = None,
    fmin: int = 2,
) -> str:
    """DuckDB twin of :func:`zipf_fit` (same micro-quantized terms)."""

    grp = f"CAST({group_expr} AS VARCHAR)" if group_expr else "'all'"
    lterm = f"ln((f)::DOUBLE / {fmin - 0.5})"
    alpha = "1.0 + (tail_types)::DOUBLE / ((s)::DOUBLE / 1000000.0)"
    return rf"""
WITH occ AS (
  SELECT {grp} AS grp,
         unnest(string_split_regex(lower(trim("{text_col}")), '\s+'))
           AS t
  FROM {rel_sql}
),
freq AS (
  SELECT grp, t, CAST(count(*) AS BIGINT) AS f
  FROM occ WHERE len(t) > 0 GROUP BY grp, t
),
per AS (
  SELECT grp,
         CAST(count(*) AS BIGINT) AS n_types,
         CAST(coalesce(sum(CASE WHEN f >= {fmin} THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS tail_types,
         CAST(sum(f) AS BIGINT) AS n_tokens,
         CAST(coalesce(sum(CASE WHEN f >= {fmin}
                                THEN {fixed_sql(lterm)} ELSE 0 END), 0)
              AS BIGINT) AS s
  FROM freq GROUP BY grp
)
SELECT grp AS "group", n_types, tail_types, n_tokens,
       CASE WHEN tail_types > 0 AND s > 0
            THEN {fixed_sql(alpha)} / 1000000.0 END AS zipf_alpha
FROM per
"""
