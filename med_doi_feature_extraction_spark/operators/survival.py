"""Survival analysis: Kaplan–Meier curves over right-censored
durations, per group.

The retention question a crawl/engagement pipeline actually asks:
"after an event at t, how long until the entity acts again — and how
does that dwell/return curve differ by segment?" The reference repo
has no notion of time at all (each record is scored in isolation);
at corpus scale the duration-to-next-observation distribution is a
first-class feature family (recrawl scheduling, churn features,
session half-life), and the Kaplan–Meier product-limit estimator is
the standard way to use it WITHOUT throwing away censored rows (the
last observation of every entity has no "next" — dropping those
biases the curve short).

Execution shape, 100 TB lens: ONE corpus-sized hash-agg to the
(group, duration) grid — everything after runs on that bounded grid
(windows partitioned by group, ordered by duration). No corpus-sized
window, no driver collect. The at-risk count is derived from the
grid itself (total minus the exclusive running count), so no second
pass over the input.

Cross-engine exactness: the survival product Π(1 − d_i/n_i) is
computed in log space with each step's ln((n−d)/n) quantized to
integer micro-units BEFORE the running sum (same discipline as
operators/trend.temporal_profile's entropy terms) — the cumulative
``km_log_micro`` is BIGINT-exact on both engines, and the presented
``km_survival`` double only has to survive the 6 dp canonical gate.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from med_doi_feature_extraction_spark.kernels.fixed import fixed, fixed_sql


def km_curve(
    df: DataFrame,
    group_cols: Sequence[str],
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Kaplan–Meier product-limit estimator per group.

    Input: one row per subject with ``duration_col`` (numeric; time
    to event or to censoring) and ``event_col`` (1 = event observed,
    0 = right-censored). Output: one row per (group, distinct
    duration) — ``n_risk`` (at-risk just before t), ``n_events``,
    ``n_censored``, ``km_log_micro`` (Σ µ-quantized ln((n−d)/n),
    BIGINT-exact; NULL at an absorbing d=n step) and ``km_survival``
    (6 dp double; exactly 0.0 at an absorbing step).

    An absorbing step (every remaining subject dies) can only be the
    group's LAST grid row — durations beyond it would need survivors
    to generate observations — so zeroing that single row is the
    complete treatment.
    """
    groups = list(group_cols)
    ev = F.col(event_col).cast("long")
    grid = (
        df.filter(
            F.col(duration_col).isNotNull() & ev.isin(0, 1)
        )
        .groupBy(*groups, F.col(duration_col).alias("duration"))
        .agg(
            F.sum(ev).alias("n_events"),
            F.sum(F.lit(1) - ev).alias("n_censored"),
            F.count(F.lit(1)).alias("_c"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy(*groups).orderBy(F.col("duration").asc())
    w_all = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_prior = w.rowsBetween(Window.unboundedPreceding, -1)
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    n_risk = F.sum("_c").over(w_all) - F.coalesce(
        F.sum("_c").over(w_prior), F.lit(0)
    )
    grid = grid.withColumn("n_risk", n_risk)
    term_u = F.when(
        F.col("n_events") < F.col("n_risk"),
        fixed(
            F.log(
                (
                    F.col("n_risk") - F.col("n_events")
                ).cast("double")
                / F.col("n_risk").cast("double")
            )
        ),
    )
    grid = grid.withColumn(
        "km_log_micro", F.sum(term_u).over(w_run)
    )
    survival = F.when(
        F.col("n_events") >= F.col("n_risk"), F.lit(0.0)
    ).otherwise(
        F.round(
            F.exp(
                F.coalesce(F.col("km_log_micro"), F.lit(0)).cast(
                    "double"
                )
                / F.lit(1e6)
            ),
            6,
        )
    )
    return grid.select(
        *groups,
        "duration",
        "n_risk",
        "n_events",
        "n_censored",
        F.when(
            F.col("n_events") < F.col("n_risk"),
            F.col("km_log_micro"),
        ).alias("km_log_micro"),
        survival.alias("km_survival"),
    )


def oracle_km_sql(
    rel_sql: str,
    group_cols: Sequence[str],
    duration_col: str,
    event_col: str,
) -> str:
    """DuckDB twin of :func:`km_curve` — identical grid, at-risk
    derivation, and µ-quantized log-space product."""
    ents = ", ".join(f'"{c}"' for c in group_cols)
    ln_term = fixed_sql(
        "ln((n_risk - n_events)::DOUBLE / n_risk::DOUBLE)"
    )
    return f"""
WITH grid AS (
  SELECT {ents}, "{duration_col}" AS duration,
         CAST(sum(CAST("{event_col}" AS BIGINT)) AS BIGINT) AS n_events,
         CAST(sum(1 - CAST("{event_col}" AS BIGINT)) AS BIGINT)
           AS n_censored,
         CAST(count(*) AS BIGINT) AS c
  FROM {rel_sql}
  WHERE "{duration_col}" IS NOT NULL
    AND CAST("{event_col}" AS BIGINT) IN (0, 1)
  GROUP BY {ents}, "{duration_col}"
),
risked AS (
  SELECT *,
    CAST(sum(c) OVER (PARTITION BY {ents}) -
      coalesce(sum(c) OVER (PARTITION BY {ents} ORDER BY duration ASC
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      AS BIGINT) AS n_risk
  FROM grid
),
logged AS (
  SELECT *,
    sum(CASE WHEN n_events < n_risk THEN {ln_term} END)
      OVER (PARTITION BY {ents} ORDER BY duration ASC
            ROWS UNBOUNDED PRECEDING) AS log_u
  FROM risked
)
SELECT {ents}, duration, n_risk, n_events, n_censored,
  CAST(CASE WHEN n_events < n_risk THEN log_u END AS BIGINT)
    AS km_log_micro,
  CAST(CASE WHEN n_events >= n_risk THEN 0.0
       ELSE round(exp(coalesce(log_u, 0)::DOUBLE / 1000000.0), 6)
       END AS DOUBLE) AS km_survival
FROM logged
"""
