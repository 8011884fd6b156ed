"""Keyed table reconciliation: row-level diff of two snapshots of
the same logical table.

The audit a pipeline runs between two crawl loads / two feature-store
publishes before switching consumers over: what was added, what
vanished, what changed, and WHICH columns drive the churn.
``windows.change_rate_features`` answers this longitudinally per
entity; this is the two-snapshot set view, and the per-column change
census is what turns "7% of rows changed" into "the tokenizer
version column changed on 7% of rows" — a one-line root cause.
Complements ``operators/scd.py`` (which builds history from
snapshots; this compares exactly two).

Execution shape, 100 TB lens: ONE full-outer equi-join on the key
(both sides shuffle once on the same key — the unavoidable exchange
for a set diff), status + per-column inequality flags are scan-stage
Column algebra on the joined row, and the summary is ONE hash-agg
onto ≤ 4 status groups with the per-column counts as conditional
sums in the SAME aggregate (no per-column passes). Null-safe
comparison via ``<=>`` ↔ DuckDB ``IS NOT DISTINCT FROM``.

Cross-engine determinism: counts exact BIGINT; shares one double
division, micro-rounded.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from med_doi_feature_extraction_spark.kernels.fixed import fixed, fixed_abs_sql


def table_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: Sequence[str],
    compare_cols: Sequence[str],
) -> DataFrame:
    """Row-level diff: one row per key present in either snapshot —
    ``*key_cols, status`` (``added`` / ``removed`` / ``changed`` /
    ``unchanged``) and one ``<col>_changed`` boolean per compare
    column (NULL for added/removed rows — there is no pair to
    compare). NULL-vs-NULL compares equal; NULL-vs-value compares
    different (null-safe equality). Keys must be unique per side —
    run :func:`~.profile.uniqueness_audit` first; duplicate keys
    multiply join rows.
    """
    keys = list(key_cols)
    o = old.select(
        *[F.col(c).alias(f"_ko_{c}") for c in keys],
        *[F.col(c).alias(f"_o_{c}") for c in compare_cols],
        F.lit(True).alias("_in_old"),
    )
    n = new.select(
        *[F.col(c).alias(f"_kn_{c}") for c in keys],
        *[F.col(c).alias(f"_n_{c}") for c in compare_cols],
        F.lit(True).alias("_in_new"),
    )
    cond = None
    for c in keys:
        eq = F.col(f"_ko_{c}") == F.col(f"_kn_{c}")
        cond = eq if cond is None else (cond & eq)
    j = o.join(n, cond, "full_outer")
    in_old = F.col("_in_old").isNotNull()
    in_new = F.col("_in_new").isNotNull()
    changed_flags = {
        f"{c}_changed": F.when(
            in_old & in_new,
            ~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}")),
        )
        for c in compare_cols
    }
    any_changed = None
    for c in compare_cols:
        f = F.coalesce(changed_flags[f"{c}_changed"], F.lit(False))
        any_changed = f if any_changed is None else (any_changed | f)
    status = (
        F.when(in_old & ~in_new, F.lit("removed"))
        .when(~in_old & in_new, F.lit("added"))
        .when(any_changed, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    key_out = [
        F.coalesce(F.col(f"_ko_{c}"), F.col(f"_kn_{c}")).alias(c)
        for c in keys
    ]
    return j.select(
        *key_out,
        status.alias("status"),
        *[changed_flags[f"{c}_changed"].alias(f"{c}_changed")
          for c in compare_cols],
    )


def table_diff_summary(
    diff: DataFrame, compare_cols: Sequence[str]
) -> DataFrame:
    """Status census from a :func:`table_diff` frame: one row per
    status with ``n, share`` (6 dp) and, on the ``changed`` row, a
    ``<col>_changed_n`` count per column (0 elsewhere). ONE hash-agg
    onto ≤ 4 groups + a 1-row total broadcast.
    """
    aggs = [F.count(F.lit(1)).cast("long").alias("n")] + [
        F.coalesce(
            F.sum(F.col(f"{c}_changed").cast("long")), F.lit(0)
        )
        .cast("long")
        .alias(f"{c}_changed_n")
        for c in compare_cols
    ]
    per = diff.groupBy("status").agg(*aggs)
    tot = per.agg(F.sum("n").cast("long").alias("_t"))
    share = F.col("n").cast("double") / F.col("_t").cast("double")
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "status",
            "n",
            (fixed(share) / 1e6).alias("share"),
            *[F.col(f"{c}_changed_n") for c in compare_cols],
        )
        .orderBy("status")
    )


def oracle_table_diff_summary_sql(
    old_sql: str,
    new_sql: str,
    key_cols: Sequence[str],
    compare_cols: Sequence[str],
) -> str:
    """DuckDB twin of ``table_diff_summary(table_diff(...))``."""
    keys = list(key_cols)
    on = " AND ".join(f"o.{c} = n.{c}" for c in keys)
    chg = [
        f"CASE WHEN o_in AND n_in THEN NOT (o_{c} IS NOT DISTINCT"
        f" FROM n_{c}) END AS {c}_changed"
        for c in compare_cols
    ]
    any_chg = " OR ".join(
        f"coalesce({c}_changed, false)" for c in compare_cols
    )
    sums = ", ".join(
        f"CAST(coalesce(sum(CASE WHEN {c}_changed THEN 1 ELSE 0 END),"
        f" 0) AS BIGINT) AS {c}_changed_n"
        for c in compare_cols
    )
    o_cols = ", ".join(
        [f"o.{c} AS ko_{c}" for c in keys]
        + [f"o.{c} AS o_{c}" for c in compare_cols]
    )
    n_cols = ", ".join(
        [f"n.{c} AS kn_{c}" for c in keys]
        + [f"n.{c} AS n_{c}" for c in compare_cols]
    )
    return f"""
WITH j AS (
  SELECT {o_cols}, {n_cols},
         (o.rowid_marker IS NOT NULL) AS o_in,
         (n.rowid_marker IS NOT NULL) AS n_in
  FROM (SELECT *, true AS rowid_marker FROM {old_sql}) o
  FULL OUTER JOIN (SELECT *, true AS rowid_marker FROM {new_sql}) n
    ON {on}
),
flagged AS (
  SELECT *, {", ".join(chg)}
  FROM j
),
statused AS (
  SELECT CASE WHEN o_in AND NOT coalesce(n_in, false) THEN 'removed'
              WHEN n_in AND NOT coalesce(o_in, false) THEN 'added'
              WHEN {any_chg} THEN 'changed'
              ELSE 'unchanged' END AS status, *
  FROM flagged
),
per AS (
  SELECT status, CAST(count(*) AS BIGINT) AS n, {sums}
  FROM statused GROUP BY status
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM per)
SELECT status, n,
       {fixed_abs_sql('(n)::DOUBLE / (t)::DOUBLE')} / 1000000.0 AS share,
       {", ".join(f"{c}_changed_n" for c in compare_cols)}
FROM per CROSS JOIN tot
ORDER BY status
"""
