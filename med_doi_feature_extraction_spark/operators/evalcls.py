"""Classification evaluation: per-class precision/recall/F1,
calibration (reliability) table, Brier score.

The engine trains in-engine gates (``operators/logreg.py``,
``operators/classifier.py``) and runs heuristic batteries
(``gopher``, ``c4rules``); before any of them replaces another in
production, the pipeline scores predictions against a labeled slice.
``assoc.cohens_kappa`` measures agreement between two raters — this
module measures one predictor against TRUTH, per class, plus the
probability-calibration view a thresholded gate needs (a classifier
whose 0.8 bucket is right 60%% of the time cannot be thresholded at
0.8). No reference analogue — web-scale surface.

Execution shape, 100 TB lens: everything reduces through ONE
bounded hash-agg — the (truth, pred) confusion cells for the
report, per-bin cells for calibration, a 1-row aggregate for Brier.
Marginals join the tiny cell table broadcast-side. No UDF anywhere.

Cross-engine determinism: counts are BIGINT; per-class F1 uses the
single-division identity ``F1 = 2·tp / (2·tp + fp + fn)`` (exact
integer ratio); float scores become 1e-6 micro-unit BIGINTs per row
BEFORE any sum (order-free), and every emitted float is one
fixed-order double expression micro-rounded — the house discipline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from med_doi_feature_extraction_spark.kernels.fixed import fixed, fixed_sql


def classification_report(
    df: DataFrame, truth_col: str, pred_col: str
) -> DataFrame:
    """Per-class metrics against truth (rows with NULL truth or
    prediction dropped). One row per class OBSERVED IN TRUTH:
    ``class, support, tp, fp, fn, precision, recall, f1`` (6 dp;
    precision NULL when the class is never predicted, f1 NULL only
    when tp+fp+fn = 0, which cannot happen for a truth class).

    Classes predicted but never true appear in other rows' ``fp``
    only — report them via ``assoc.cramers_v``/confusion cells if
    needed."""
    t, p = F.col(truth_col), F.col(pred_col)
    cells = (
        df.filter(t.isNotNull() & p.isNotNull())
        .groupBy(t.alias("_t"), p.alias("_p"))
        .agg(F.count(F.lit(1)).cast("long").alias("_o"))
    )
    truth_tot = cells.groupBy(F.col("_t").alias("class")).agg(
        F.sum("_o").cast("long").alias("support"),
        F.sum(F.when(F.col("_t") == F.col("_p"), F.col("_o")).otherwise(0))
        .cast("long")
        .alias("tp"),
    )
    pred_tot = cells.groupBy(F.col("_p").alias("class")).agg(
        F.sum("_o").cast("long").alias("_pred_n")
    )
    j = truth_tot.join(F.broadcast(pred_tot), "class", "left").select(
        "class",
        "support",
        "tp",
        (F.coalesce(F.col("_pred_n"), F.lit(0)) - F.col("tp")).alias("fp"),
        (F.col("support") - F.col("tp")).alias("fn"),
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    precision = F.when(
        tp + fp > 0, tp.cast("double") / (tp + fp).cast("double")
    )
    recall = tp.cast("double") / F.col("support").cast("double")
    f1 = F.when(
        2 * tp + fp + fn > 0,
        (2 * tp).cast("double") / (2 * tp + fp + fn).cast("double"),
    )
    return j.select(
        "class",
        "support",
        "tp",
        "fp",
        "fn",
        (fixed(precision) / 1e6).alias("precision"),
        (fixed(recall) / 1e6).alias("recall"),
        (fixed(f1) / 1e6).alias("f1"),
    )


def calibration_table(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability-diagram data for a [0, 1] score against a 0/1
    label (NULLs dropped): per OCCUPIED bin
    (``bin = min(floor(score·n_bins), n_bins−1)``, 0-based) —
    ``bin, n, mean_score, frac_pos`` (6 dp). A calibrated model has
    ``mean_score ≈ frac_pos`` per bin. Scores become micro-unit
    BIGINTs per row before the bin mean (order-free)."""
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("long")
    rows = df.filter(s.isNotNull() & y.isNotNull()).select(
        F.least(
            F.floor(s * F.lit(float(n_bins))).cast("long"),
            F.lit(n_bins - 1),
        ).alias("bin"),
        fixed(s).alias("_s_u"),
        y.alias("_y"),
    )
    agg = rows.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("_s_u").cast("long").alias("_ssum_u"),
        F.sum("_y").cast("long").alias("_pos"),
    )
    mean_score = F.col("_ssum_u").cast("double") / (
        F.col("n").cast("double") * F.lit(1e6)
    )
    frac_pos = F.col("_pos").cast("double") / F.col("n").cast("double")
    return agg.select(
        "bin",
        "n",
        (fixed(mean_score) / 1e6).alias("mean_score"),
        (fixed(frac_pos) / 1e6).alias("frac_pos"),
    )


def brier_score(
    df: DataFrame, score_col: str, label_col: str
) -> DataFrame:
    """Mean squared error of a [0, 1] score against a 0/1 label —
    ONE row: ``brier`` (6 dp), ``n``. Per-row ``(s−y)²`` terms are
    micro-unit BIGINTs before the sum (order-free)."""
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("long")
    term_u = fixed((s - y.cast("double")) * (s - y.cast("double")))
    agg = df.filter(s.isNotNull() & y.isNotNull()).agg(
        F.sum(term_u).cast("long").alias("_sum_u"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    brier = F.col("_sum_u").cast("double") / (
        F.col("n").cast("double") * F.lit(1e6)
    )
    return agg.select(
        (fixed(brier) / 1e6).alias("brier"),
        "n",
    )


# --- DuckDB twins -----------------------------------------------------

def oracle_cls_report_sql(
    rel_sql: str, truth_expr: str, pred_expr: str
) -> str:
    """DuckDB twin of :func:`classification_report`."""
    return f"""
WITH cells AS (
  SELECT {truth_expr} AS t, {pred_expr} AS p,
         CAST(count(*) AS BIGINT) AS o
  FROM {rel_sql}
  WHERE {truth_expr} IS NOT NULL AND {pred_expr} IS NOT NULL
  GROUP BY t, p
),
truth_tot AS (
  SELECT t AS class,
         CAST(sum(o) AS BIGINT) AS support,
         CAST(sum(CASE WHEN t = p THEN o ELSE 0 END) AS BIGINT) AS tp
  FROM cells GROUP BY t
),
pred_tot AS (
  SELECT p AS class, CAST(sum(o) AS BIGINT) AS pred_n
  FROM cells GROUP BY p
),
m AS (
  SELECT class, support, tp,
         coalesce(pred_n, 0) - tp AS fp,
         support - tp AS fn
  FROM truth_tot LEFT JOIN pred_tot USING (class)
)
SELECT class, support, tp, fp, fn,
       CASE WHEN tp + fp > 0 THEN
         {fixed_sql('(tp)::DOUBLE / (tp + fp)::DOUBLE')} / 1000000.0
       END AS precision,
       {fixed_sql('(tp)::DOUBLE / (support)::DOUBLE')} / 1000000.0
         AS recall,
       CASE WHEN 2 * tp + fp + fn > 0 THEN
         {fixed_sql('(2 * tp)::DOUBLE / (2 * tp + fp + fn)::DOUBLE')}
           / 1000000.0
       END AS f1
FROM m
"""


def oracle_calibration_sql(
    rel_sql: str, score_expr: str, label_expr: str, n_bins: int = 10
) -> str:
    """DuckDB twin of :func:`calibration_table`."""
    mean_score = "(ssum_u)::DOUBLE / ((n)::DOUBLE * 1000000.0)"
    frac_pos = "(pos)::DOUBLE / (n)::DOUBLE"
    return f"""
WITH rows_ AS (
  SELECT least(CAST(floor(({score_expr})::DOUBLE * {float(n_bins)!r})
               AS BIGINT), {n_bins - 1}) AS bin,
         {fixed_sql(f'({score_expr})::DOUBLE')} AS s_u,
         CAST({label_expr} AS BIGINT) AS y
  FROM {rel_sql}
  WHERE {score_expr} IS NOT NULL AND {label_expr} IS NOT NULL
),
agg AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(s_u) AS BIGINT) AS ssum_u,
         CAST(sum(y) AS BIGINT) AS pos
  FROM rows_ GROUP BY bin
)
SELECT bin, n,
       {fixed_sql(mean_score)} / 1000000.0 AS mean_score,
       {fixed_sql(frac_pos)} / 1000000.0 AS frac_pos
FROM agg
"""


def oracle_brier_sql(
    rel_sql: str, score_expr: str, label_expr: str
) -> str:
    """DuckDB twin of :func:`brier_score`."""
    term = (
        f"(({score_expr})::DOUBLE - (CAST({label_expr} AS BIGINT))::DOUBLE)"
        f" * (({score_expr})::DOUBLE - (CAST({label_expr} AS BIGINT))::DOUBLE)"
    )
    brier = "(sum_u)::DOUBLE / ((n)::DOUBLE * 1000000.0)"
    return f"""
WITH agg AS (
  SELECT CAST(sum({fixed_sql(term)}) AS BIGINT) AS sum_u,
         CAST(count(*) AS BIGINT) AS n
  FROM {rel_sql}
  WHERE {score_expr} IS NOT NULL AND {label_expr} IS NOT NULL
)
SELECT {fixed_sql(brier)} / 1000000.0 AS brier, n
FROM agg
"""


def roc_auc(
    df: DataFrame, score_col: str, label_col: str
) -> DataFrame:
    """Exact ROC-AUC of a score against a 0/1 label via the
    rank-statistic identity ``AUC = U⁺ / (n⁺·n⁻)`` (ties count ½ —
    the midrank convention), computed on the
    :func:`~.drift.mannwhitney_u` machinery: per-value counts →
    ``global_cumsum`` prefix sums → exact BIGINT doubled-unit rank
    sums. No sort-the-corpus, no single-reducer window, no sampling —
    the exact AUC at any scale. NULLs dropped.

    ONE row: ``auc`` (6 dp), ``n_pos, n_neg`` (``auc`` NULL when a
    class is empty)."""
    from med_doi_feature_extraction_spark.operators.drift import (
        mannwhitney_u,
    )

    y = F.col(label_col).cast("int")
    pos = df.filter(y == 1)
    neg = df.filter(y == 0)
    mw = mannwhitney_u(pos, neg, score_col)
    denom = (F.col("n_a") * F.col("n_b")).cast("double")
    auc = F.when(denom > 0, F.col("u_a") / denom)
    return mw.select(
        (fixed(auc) / 1e6).alias("auc"),
        F.col("n_a").alias("n_pos"),
        F.col("n_b").alias("n_neg"),
    )


def oracle_roc_auc_sql(
    rel_sql: str, score_expr: str, label_expr: str
) -> str:
    """DuckDB twin of :func:`roc_auc` — the mannwhitney oracle with
    the AUC projection on top."""
    from med_doi_feature_extraction_spark.operators.drift import (
        oracle_mannwhitney_sql,
    )

    pos = (
        f"(SELECT {score_expr} AS s FROM {rel_sql}"
        f" WHERE CAST({label_expr} AS INT) = 1)"
    )
    neg = (
        f"(SELECT {score_expr} AS s FROM {rel_sql}"
        f" WHERE CAST({label_expr} AS INT) = 0)"
    )
    mw = oracle_mannwhitney_sql(pos, neg, "s")
    auc = "u_a / (n_a * n_b)::DOUBLE"
    return f"""
WITH mw AS ({mw})
SELECT CASE WHEN n_a * n_b > 0 THEN
         {fixed_sql(auc)} / 1000000.0
       END AS auc,
       n_a AS n_pos, n_b AS n_neg
FROM mw
"""
