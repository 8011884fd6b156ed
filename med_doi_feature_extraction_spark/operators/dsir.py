"""DSIR-style data selection: hashed n-gram importance resampling.

The public method (Xie et al. 2023, "Data Selection for Language
Models via Importance Resampling", arXiv:2302.03169): fit two
bag-of-hashed-n-grams categorical distributions — one on a trusted
TARGET corpus, one on the RAW web corpus — weight each raw document
by its importance log-ratio Σ count_b·(ln p_target[b] − ln p_raw[b]),
and resample via the Gumbel top-k trick so selection is a weighted
sample WITHOUT replacement. This is the data-selection step of an
LLM pre-training pipeline (pick the Wikipedia-like head of Common
Crawl); the reference repo has no corpus-scale analogue — it scores
records in isolation (`src/services/quality_service.py`).

Execution shape (what survives 100×):

- Feature space is HASHED (``dim`` buckets, default 2^14) exactly so
  the fitted distributions are bounded tables: each fit is one
  explode + hash-agg whose partial aggregation collapses map-side to
  ≤ dim rows per task — the Zipf head never crosses a shuffle as raw
  tokens — plus the sanctioned 1-row-totals broadcast for the
  normalizer. No vocabulary-sized state anywhere.
- Scoring joins the exploded raw corpus against the two ≤ dim-row
  distributions — always BROADCAST, never a shuffled join — then one
  hash-agg per doc. Per-bucket log-probs are rounded to 6 dp (the
  module-wide cross-engine convention, see `operators/lm.py`), so the
  per-doc sum is a sum of exact 1e-6 multiples: order-insensitive
  after the final 6 dp round, hence hash-comparable across engines.
- Selection uses deterministic Gumbel noise from the engine-portable
  sha256 uniform (`sampling.hash_uniform`'s scheme, mid-bucket shift
  so u ∈ (0,1) and ln(ln) never sees 0) and TakeOrderedAndProject
  (sort+limit — per-partition top-k then a bounded driver merge, no
  single-reducer global sort).

All hash/ln expressions have DuckDB twins kept in this module
(`oracle_*_sql`) so the Spark code and the contract oracle cannot
drift.

Production note: composed lazily in ONE query (as the contract query
does), the fused weights read the text twice — the counts, whose
1-row totals read the same exchange (a ReusedExchange), and the
scorer. Across queries, PERSIST the fitted table first (a ≤ dim-row
artifact, the shape `sketches`-family operators materialize): the fit
is then paid once per corpus snapshot and scoring is one corpus scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from med_doi_feature_extraction_spark.operators.dedup import ngrams_all_col

DEFAULT_DIM = 1 << 14
_U32 = float(1 << 32)


def _grams(text_col: str) -> Column:
    """The unigram+bigram occurrences of each doc (none for blank text)."""
    unis = F.filter(ngrams_all_col(text_col, 1), lambda x: F.length(x) > 0)
    return F.concat(unis, ngrams_all_col(text_col, 2))


def _bucket(gram: Column, dim: int, salt: str) -> Column:
    """The engine-portable sha256 bucket of a gram (NULL for NULL)."""
    tagged = F.concat(gram, F.lit("|" + salt))
    h = F.conv(F.substring(F.sha2(tagged, 256), 1, 8), 16, 10).cast("long")
    return F.pmod(h, F.lit(dim))


def hashed_grams(
    df: DataFrame,
    text_col: str,
    *keep: str,
    dim: int = DEFAULT_DIM,
    salt: str = "dsir",
) -> DataFrame:
    """One row per unigram+bigram OCCURRENCE (duplicates kept — the
    distributions are over occurrences), hashed to ``idx ∈ [0, dim)``:
    scan-stage n-grams (`dedup.ngrams_all_col`) → one explode → hash.
    Whitespace-only docs contribute nothing. ``idx`` is declared
    non-null (a gram's sha256 always buckets), so a join on it pushes
    no inferred ``isnotnull`` under a shared count."""
    ex = df.select(*keep, F.explode(_grams(text_col)).alias("_g"))
    idx = F.coalesce(_bucket(F.col("_g"), dim, salt), F.lit(0).cast("long"))
    return ex.select(*keep, idx.alias("idx"))


def fit_hashed_dist(
    corpus: DataFrame,
    text_col: str,
    dim: int = DEFAULT_DIM,
    salt: str = "dsir",
) -> DataFrame:
    """(idx, logp, floor_logp): add-one-smoothed categorical over the
    ``dim`` hash buckets, ``logp = round(ln((c+1)/(total+dim)), 6)``.
    Buckets unseen in the corpus are ABSENT (the table stays ≤ dim
    rows); scorers coalesce them to ``floor_logp = ln(1/(total+dim))``
    which rides every row so downstream can recover it with a 1-row
    broadcast instead of a driver action."""
    counts = (
        hashed_grams(corpus, text_col, dim=dim, salt=salt)
        .groupBy("idx")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = counts.agg(F.sum("c").alias("_total"))
    denom = (F.col("_total") + F.lit(dim)).cast("double")
    return counts.crossJoin(F.broadcast(totals)).select(
        "idx",
        F.round(F.log((F.col("c") + 1).cast("double") / denom), 6).alias("logp"),
        F.round(F.log(F.lit(1.0) / denom), 6).alias("floor_logp"),
    )


def _floor_row(dist: DataFrame, name: str) -> DataFrame:
    return dist.agg(F.first("floor_logp").alias(name))


def dsir_logweights_fused(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    target_cond: Column,
    dim: int = DEFAULT_DIM,
    salt: str = "dsir",
) -> DataFrame:
    """Fused self-selection DSIR weights (target ⊆ scored corpus):
    bit-identical to ``dsir_logweights(corpus, …,
    fit_hashed_dist(corpus.filter(target_cond), …),
    fit_hashed_dist(corpus, …))`` — parity-pinned — but ONE gram pass
    feeds both counts (a conditional count for the target subset) and
    the scorer joins ONE combined per-bucket broadcast instead of two
    dists plus two floor rows. ``id_col`` is a key: one row per id.

    Every gram the scorer emits was BY CONSTRUCTION counted into the
    raw distribution, so the raw-side logp needs no OOV floor, and the
    target-side floor folds into a ``when`` on the target count. The
    text is read twice: the counts (their 1-row totals reuse the
    counts exchange) and the scorer, whose OUTER explode keeps a doc
    without grams as one NULL row, so nothing re-joins a doc spine.
    Empty target: the target logp goes NULL where the compositional
    path's NULL floor did and propagates through the same
    sum/round/coalesce ladder."""
    counts = hashed_grams(
        corpus.select(target_cond.alias("_is_t"), F.col(text_col)),
        text_col,
        "_is_t",
        dim=dim,
        salt=salt,
    ).groupBy("idx").agg(
        F.count(F.lit(1)).alias("_cq"),
        F.count(F.when(F.col("_is_t"), 1)).alias("_ct"),
    )
    totals = counts.agg(
        F.sum("_cq").alias("_totq"), F.sum("_ct").alias("_tott")
    )
    dt = (F.col("_tott") + F.lit(dim)).cast("double")
    dq = (F.col("_totq") + F.lit(dim)).cast("double")
    table = counts.crossJoin(F.broadcast(totals)).select(
        "idx",
        F.when(
            F.col("_ct") > 0,
            F.round(F.log((F.col("_ct") + 1).cast("double") / dt), 6),
        )
        .otherwise(
            F.when(F.col("_tott") > 0, F.round(F.log(F.lit(1.0) / dt), 6))
        )
        .alias("_lt"),
        F.round(F.log((F.col("_cq") + 1).cast("double") / dq), 6).alias(
            "_lq"
        ),
    )
    grams = corpus.select(
        id_col, F.explode_outer(_grams(text_col)).alias("_g")
    ).select(id_col, _bucket(F.col("_g"), dim, salt).alias("idx"))
    scores = grams.join(F.broadcast(table), "idx", "left").groupBy(id_col).agg(
        F.count("idx").alias("n_grams"),
        F.round(F.sum(F.col("_lt") - F.col("_lq")), 6).alias("logw"),
    )
    return scores.select(
        id_col, "n_grams", F.coalesce("logw", F.lit(0.0)).alias("logw")
    )


def dsir_logweights(
    raw: DataFrame,
    id_col: str,
    text_col: str,
    target_dist: DataFrame,
    raw_dist: DataFrame,
    dim: int = DEFAULT_DIM,
    salt: str = "dsir",
) -> DataFrame:
    """(id, n_grams, logw): per-document importance log-weight
    Σ_grams (logp_target − logp_raw), 6 dp. Docs with no grams keep
    logw = 0 (importance weight 1) and n_grams = 0 — an empty doc is
    evidence for neither corpus. Plan: explode → two broadcast joins
    (≤ dim-row dists) + two 1-row floor broadcasts → hash-agg on id →
    one narrow join back to the id spine so every input row is
    represented."""
    t = target_dist.select(F.col("idx"), F.col("logp").alias("_lt"))
    q = raw_dist.select(F.col("idx"), F.col("logp").alias("_lq"))
    ex = (
        hashed_grams(raw, text_col, id_col, dim=dim, salt=salt)
        .join(F.broadcast(t), "idx", "left")
        .join(F.broadcast(q), "idx", "left")
    )
    ex = ex.crossJoin(
        F.broadcast(_floor_row(target_dist, "_ft"))
    ).crossJoin(F.broadcast(_floor_row(raw_dist, "_fq")))
    llr = F.coalesce(F.col("_lt"), F.col("_ft")) - F.coalesce(
        F.col("_lq"), F.col("_fq")
    )
    scores = ex.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.round(F.sum(llr), 6).alias("logw"),
    )
    spine = raw.select(id_col)
    return spine.join(scores, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_grams"), F.lit(0)).alias("n_grams"),
        F.coalesce(F.col("logw"), F.lit(0.0)).alias("logw"),
    )


def gumbel_key(
    id_col: str | F.Column,
    logw_col: str | F.Column,
    tau: float = 1.0,
    salt: str = "gumbel",
) -> F.Column:
    """Deterministic Gumbel-top-k sort key ``logw/tau + G(id)`` with
    ``G = −ln(−ln(u))`` and ``u = (sha_bucket + 0.5)/2^32`` (mid-point
    shift keeps u strictly inside (0,1) — the raw bucket can be 0).
    Taking the top-k under this key draws a weighted sample without
    replacement with P(i first) ∝ w_i^{1/tau} (Gumbel-max trick);
    deterministic because the noise is keyed, so reruns, appends and
    layout changes cannot reshuffle the selection. 6 dp."""
    key = F.col(id_col) if isinstance(id_col, str) else id_col
    logw = F.col(logw_col) if isinstance(logw_col, str) else logw_col
    tagged = F.concat(
        F.coalesce(key.cast("string"), F.lit("")), F.lit("|" + salt)
    )
    bucket = F.conv(F.substring(F.sha2(tagged, 256), 1, 8), 16, 10)
    u = (bucket.cast("double") + F.lit(0.5)) / F.lit(_U32)
    g = -F.log(-F.log(u))
    return F.round(logw / F.lit(float(tau)) + g, 6)


def dsir_select(
    weights: DataFrame,
    k: int,
    id_col: str = "doc_id",
    logw_col: str = "logw",
    tau: float = 1.0,
    salt: str = "gumbel",
) -> DataFrame:
    """Top-k rows under the Gumbel key (+ id tiebreak so equal keys
    are still deterministic). sort+limit plans as
    TakeOrderedAndProject — per-partition top-k, bounded merge."""
    out = weights.withColumn(
        "gumbel_key", gumbel_key(id_col, logw_col, tau=tau, salt=salt)
    )
    return out.orderBy(F.desc("gumbel_key"), F.col(id_col)).limit(k)


# --- DuckDB twins (keep in lockstep with the Column algebra above) ---

def oracle_grams_cte(
    source_sql: str,
    id_expr: str,
    text_expr: str,
    dim: int,
    salt: str = "dsir",
    prefix: str = "",
) -> str:
    """CTE ``{prefix}grams(id, idx)`` reproducing :func:`hashed_grams`:
    unigrams are the len>0 tokens; bigrams join ADJACENT raw tokens
    (Spark slices the unfiltered token array — whitespace-only text
    yields the single empty token and therefore no bigrams, matching
    ``greatest(len−1, 0)`` here)."""
    return f"""
  {prefix}toked AS (
    SELECT {id_expr} AS id,
           string_split_regex(lower(trim({text_expr})), '\\s+') AS toks
    FROM {source_sql}
  ),
  {prefix}gr AS (
    SELECT id, unnest(list_concat(
             list_filter(toks, x -> len(x) > 0),
             list_transform(range(0, greatest(len(toks) - 1, 0)),
                            i -> toks[i + 1] || ' ' || toks[i + 2])
           )) AS g
    FROM {prefix}toked
  ),
  {prefix}grams AS (
    SELECT id,
           CAST(('0x' || substr(sha256(g || '|{salt}'), 1, 8))::UBIGINT
                % {dim} AS BIGINT) AS idx
    FROM {prefix}gr
  )"""


def oracle_dist_cte(name: str, grams_cte: str, dim: int) -> str:
    """CTE pair ``{name}_c`` / ``{name}`` reproducing
    :func:`fit_hashed_dist` over an existing grams CTE."""
    return f"""
  {name}_c AS (SELECT idx, count(*) AS c FROM {grams_cte} GROUP BY 1),
  {name}_t AS (SELECT sum(c) AS total FROM {name}_c),
  {name} AS (
    SELECT idx,
           round(ln((c + 1)::DOUBLE / (total + {dim})::DOUBLE), 6) AS logp,
           round(ln(1.0 / (total + {dim})::DOUBLE), 6) AS floor_logp
    FROM {name}_c, {name}_t
  )"""


def oracle_gumbel_sql(
    id_expr: str, logw_expr: str, tau: float = 1.0, salt: str = "gumbel"
) -> str:
    """DuckDB expression for :func:`gumbel_key`."""
    u = (
        f"(('0x' || substr(sha256(coalesce(CAST({id_expr} AS VARCHAR), '') "
        f"|| '|{salt}'), 1, 8))::UBIGINT::DOUBLE + 0.5) / 4294967296.0"
    )
    return f"round({logw_expr} / {float(tau)} + -ln(-ln({u})), 6)"
