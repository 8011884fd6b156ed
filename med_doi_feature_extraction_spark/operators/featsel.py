"""Token–label feature selection: per-token chi-squared association
and presence mutual information against a binary document label.

Before an in-engine classifier gate is trained
(``operators/logreg.py``, ``operators/classifier.py``), a curation
pipeline ranks which vocabulary actually separates the classes —
chi²/MI feature selection is the standard step (Yang & Pedersen
1997) and also the fast "what distinguishes kept from dropped docs"
debugging report after any filter. Presence semantics: a token
counts once per document (document frequency), the convention both
cited classifiers use. The reference repo has no analogue —
web-scale surface, gopher.py disposition.

Execution shape, 100 TB lens: explode of per-doc DISTINCT tokens →
ONE hash-agg keyed on token (partial aggregation absorbs the Zipf
head map-side, the ``corpus_stats.document_frequency`` shape) →
1-row label-totals broadcast (attach-a-global-scalar) → ``min_df``
prune → bounded ``top_k`` via TakeOrderedAndProject. The corpus text
never crosses a shuffle; no UDF anywhere.

Cross-engine determinism: the 2×2-table arithmetic stays in BIGINT
until a single fixed-order double expression per statistic (written
identically in the Spark Columns and the DuckDB twin), then 1e-6
micro-unit rounding; ranking ties break on the token ascending.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from med_doi_feature_extraction_spark.kernels.fixed import fixed, fixed_sql

_TOKEN = "[a-z]+"


def _doc_tokens(text: Column) -> Column:
    return F.array_distinct(
        F.regexp_extract_all(F.lower(F.coalesce(text, F.lit(""))), F.lit(_TOKEN), 0)
    )


def chi2_tokens(
    df: DataFrame,
    text_col: str,
    label_col: str,
    top_k: int = 50,
    min_df: int = 2,
) -> DataFrame:
    """Rank tokens by chi-squared association with the boolean/0-1
    ``label_col``. Output (``top_k`` rows, ordered by micro-unit chi²
    desc then token asc): ``token, df_pos, df_neg, chi2, mi`` —
    ``df_pos``/``df_neg`` are document frequencies within the
    positive/negative class, ``chi2`` the 2×2 statistic, ``mi`` the
    presence mutual information in nats (6 dp each). Tokens seen in
    fewer than ``min_df`` documents are pruned before ranking. NULL
    labels are dropped (no class evidence).
    """
    lab = F.col(label_col).cast("int")
    docs = df.filter(lab.isNotNull()).select(
        _doc_tokens(F.col(text_col)).alias("_toks"), lab.alias("_y")
    )
    totals = docs.agg(
        F.sum("_y").cast("long").alias("_n1"),
        F.sum(1 - F.col("_y")).cast("long").alias("_n0"),
    )
    counts = (
        docs.select(F.explode("_toks").alias("token"), "_y")
        .groupBy("token")
        .agg(
            F.sum("_y").cast("long").alias("df_pos"),
            F.sum(1 - F.col("_y")).cast("long").alias("df_neg"),
        )
        .filter(F.col("df_pos") + F.col("df_neg") >= min_df)
    )
    j = counts.crossJoin(F.broadcast(totals))
    a = F.col("df_pos")
    b = F.col("df_neg")
    c = F.col("_n1") - a
    d = F.col("_n0") - b
    n = (F.col("_n1") + F.col("_n0")).cast("double")
    diff = (a * d - b * c).cast("double")
    denom = (
        (a + b).cast("double")
        * (c + d).cast("double")
        * (a + c).cast("double")
        * (b + d).cast("double")
    )
    chi2 = F.when(denom > 0, n * diff * diff / denom).otherwise(F.lit(0.0))

    def mi_term(cell: Column, rowt: Column, colt: Column) -> Column:
        cd = cell.cast("double")
        return F.when(
            cell > 0,
            cd / n * F.log(n * cd / (rowt.cast("double") * colt.cast("double"))),
        ).otherwise(F.lit(0.0))

    mi = (
        mi_term(a, a + b, a + c)
        + mi_term(b, a + b, b + d)
        + mi_term(c, c + d, a + c)
        + mi_term(d, c + d, b + d)
    )
    scored = j.select(
        "token",
        "df_pos",
        "df_neg",
        fixed(chi2).alias("_chi2_u"),
        fixed(mi).alias("_mi_u"),
    )
    return (
        scored.orderBy(F.col("_chi2_u").desc(), F.col("token").asc())
        .limit(top_k)
        .select(
            "token",
            "df_pos",
            "df_neg",
            (F.col("_chi2_u") / 1e6).alias("chi2"),
            (F.col("_mi_u") / 1e6).alias("mi"),
        )
    )


# --- DuckDB twin ------------------------------------------------------

def oracle_chi2_sql(
    rel_sql: str,
    text_expr: str,
    label_expr: str,
    top_k: int = 50,
    min_df: int = 2,
) -> str:
    """DuckDB query mirroring :func:`chi2_tokens` — identical token
    rule, identical fixed-order double arithmetic, identical
    micro-unit rounding and tiebreak. ``rel_sql`` is a relation
    expression exposing ``text_expr`` and ``label_expr``."""

    toks = (
        f"list_distinct(regexp_extract_all(lower(coalesce({text_expr},"
        f" '')), '{_TOKEN}'))"
    )
    chi2 = (
        "CASE WHEN denom > 0 THEN n * diff * diff / denom ELSE 0.0 END"
    )
    mi_terms = []
    for cell, rowt, colt in (
        ("a", "(a + b)", "(a + c)"),
        ("b", "(a + b)", "(b + d)"),
        ("c", "(c + d)", "(a + c)"),
        ("d", "(c + d)", "(b + d)"),
    ):
        mi_terms.append(
            f"CASE WHEN {cell} > 0 THEN ({cell})::DOUBLE / n *"
            f" ln(n * ({cell})::DOUBLE /"
            f" (({rowt})::DOUBLE * ({colt})::DOUBLE)) ELSE 0.0 END"
        )
    mi = " + ".join(mi_terms)
    return f"""
WITH docs AS (
  SELECT {toks} AS toks, CAST({label_expr} AS INT) AS y
  FROM {rel_sql}
  WHERE {label_expr} IS NOT NULL
),
totals AS (
  SELECT CAST(sum(y) AS BIGINT) AS n1,
         CAST(sum(1 - y) AS BIGINT) AS n0
  FROM docs
),
counts AS (
  SELECT token,
         CAST(sum(y) AS BIGINT) AS df_pos,
         CAST(sum(1 - y) AS BIGINT) AS df_neg
  FROM (SELECT unnest(toks) AS token, y FROM docs)
  GROUP BY token
  HAVING df_pos + df_neg >= {min_df}
),
cells AS (
  SELECT token, df_pos, df_neg,
         df_pos AS a, df_neg AS b,
         n1 - df_pos AS c, n0 - df_neg AS d,
         (n1 + n0)::DOUBLE AS n,
         (df_pos * (n0 - df_neg) - df_neg * (n1 - df_pos))::DOUBLE AS diff,
         (df_pos + df_neg)::DOUBLE * ((n1 - df_pos) + (n0 - df_neg))::DOUBLE
           * (df_pos + (n1 - df_pos))::DOUBLE
           * (df_neg + (n0 - df_neg))::DOUBLE AS denom
  FROM counts, totals
),
scored AS (
  SELECT token, df_pos, df_neg,
         {fixed_sql(chi2)} AS chi2_u,
         {fixed_sql(mi)} AS mi_u
  FROM cells
)
SELECT token, df_pos, df_neg,
       chi2_u / 1000000.0 AS chi2,
       mi_u / 1000000.0 AS mi
FROM scored
ORDER BY chi2_u DESC, token ASC
LIMIT {top_k}
"""
