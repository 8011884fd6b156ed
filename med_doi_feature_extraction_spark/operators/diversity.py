"""Corpus concentration / diversity metrics: Gini coefficient and
Herfindahl–Hirschman index over a grouping key.

A dataset card that reports "20 M domains" can still hide a corpus
that is 40%% one domain. The two standard concentration numbers —
HHI (Σ share², the antitrust measure) and the Gini coefficient of
the group-size distribution — quantify that in one pass, and drive
the cap decisions ``sampling.domain_cap`` then enforces. Pairs with
``profile.column_entropy`` (entropy measures the same distribution
in nats). No reference analogue — web-scale surface.

Execution shape, 100 TB lens: ONE corpus hash-agg to per-group
counts; HHI needs only a 1-row aggregate over that table; Gini needs
the counts RANKED, done with :func:`~.order.global_row_number`
(range exchange + bounded offsets — millions of domains never
funnel through one reducer).

Cross-engine determinism: with integer counts, both statistics are
exact BIGINT ratios — Gini via the sorted-sample identity
``G = (Σ(2i−1)·x_(i) − n·Σx) / (n·Σx)`` — reduced to ONE double
division each, then micro-rounded. The rank tie-breaks on the group
key, which leaves G invariant (equal counts commute in the sum).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from med_doi_feature_extraction_spark.kernels.fixed import fixed, fixed_sql


def concentration(
    df: DataFrame, group_col: str, num_partitions: int | None = None
) -> DataFrame:
    """Concentration of rows across ``group_col`` (NULL groups
    dropped). ONE row: ``n_groups, n_rows, top_share`` (largest
    group's row share), ``hhi`` (Σ share² ∈ (0, 1]; 1/n_groups =
    perfectly even), ``gini`` (∈ [0, 1); 0 = perfectly even) —
    ratios 6 dp from exact BIGINT arithmetic.
    """
    from med_doi_feature_extraction_spark.operators.order import (
        global_row_number,
    )

    g = F.col(group_col)
    counts = (
        df.filter(g.isNotNull())
        .groupBy(g.alias("_g"))
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
    )
    ranked = global_row_number(
        counts, ["_c", "_g"], name="_i", num_partitions=num_partitions
    )
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("_c").cast("long").alias("_tot"),
        F.max("_c").cast("long").alias("_max"),
        F.sum(F.col("_c") * F.col("_c")).cast("long").alias("_sq"),
        F.sum(
            (2 * F.col("_i") - 1) * F.col("_c")
        ).cast("long").alias("_wsum"),  # Σ(2i−1)·x_(i), i ascending
    )
    n, tot = F.col("_n"), F.col("_tot")
    gini = (F.col("_wsum") - n * tot).cast("double") / (
        n * tot
    ).cast("double")
    hhi = F.col("_sq").cast("double") / (tot * tot).cast("double")
    top = F.col("_max").cast("double") / tot.cast("double")
    return agg.select(
        n.alias("n_groups"),
        tot.alias("n_rows"),
        (fixed(top) / 1e6).alias("top_share"),
        (fixed(hhi) / 1e6).alias("hhi"),
        (fixed(gini) / 1e6).alias("gini"),
    )


def oracle_concentration_sql(rel_sql: str, group_expr: str) -> str:
    """DuckDB twin of :func:`concentration` (single-node rank — the
    shape global_row_number replaces)."""
    gini = "(wsum - n * tot)::DOUBLE / (n * tot)::DOUBLE"
    hhi = "(sq)::DOUBLE / (tot * tot)::DOUBLE"
    top = "(mx)::DOUBLE / (tot)::DOUBLE"
    return f"""
WITH counts AS (
  SELECT {group_expr} AS g, CAST(count(*) AS BIGINT) AS c
  FROM {rel_sql}
  WHERE {group_expr} IS NOT NULL
  GROUP BY g
),
ranked AS (
  SELECT c, CAST(row_number() OVER (ORDER BY c, g) AS BIGINT) AS i
  FROM counts
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS BIGINT) AS tot,
         CAST(max(c) AS BIGINT) AS mx,
         CAST(sum(c * c) AS BIGINT) AS sq,
         CAST(sum((2 * i - 1) * c) AS BIGINT) AS wsum
  FROM ranked
)
SELECT n AS n_groups, tot AS n_rows,
       {fixed_sql(top)} / 1000000.0 AS top_share,
       {fixed_sql(hhi)} / 1000000.0 AS hhi,
       {fixed_sql(gini)} / 1000000.0 AS gini
FROM agg
"""
