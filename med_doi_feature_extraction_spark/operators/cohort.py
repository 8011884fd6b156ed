"""Cohort retention matrix over an entity event stream.

The classic "did the crawl keep finding this site alive" /
"did the user come back" table: entities are grouped by their FIRST
active day (the cohort), and each later day answers what fraction of
that cohort was active again. For a crawl corpus this is source
persistence (how much of the day-0 host cohort still serves content
at day k — the survival input to ``crawl.recrawl_priority``-class
budgeting); for behavioral events it is standard product retention.
No reference analogue — web-scale surface.

Execution shape, 100 TB lens: (1) first-activity per entity = ONE
hash-agg (min ts); (2) distinct (entity, day) activity = ONE
hash-agg; (3) entity-keyed equi-join of the two (same key, one
exchange reused); (4) the (cohort_day, offset) rollup is a hash-agg
onto a BOUNDED frame (days × days triangle); cohort sizes join
broadcast onto it. No windows, no corpus-sized joins beyond the
entity key.

Cross-engine determinism: day buckets via ``date_trunc('day', ts)``
(session TZ pinned UTC in both engines), whole-day offsets via
date subtraction on the truncated days; counts exact BIGINT;
retention one double ratio micro-rounded.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from med_doi_feature_extraction_spark.kernels.fixed import fixed, fixed_abs_sql


def cohort_retention(
    df: DataFrame,
    entity_cols: Sequence[str],
    ts_col: str,
) -> DataFrame:
    """One row per observed ``(cohort_day, day_offset)``:
    ``cohort_day`` (date of the cohort's first activity),
    ``day_offset`` (whole days since cohort day, ≥ 0), ``n_active``
    (distinct cohort entities active that day), ``cohort_size`` and
    ``retention = n_active / cohort_size`` (6 dp). The
    ``day_offset = 0`` row always has retention 1. NULL timestamps
    are ignored.
    """
    ents = list(entity_cols)
    day = F.date_trunc("day", F.col(ts_col)).cast("date")
    activity = (
        df.filter(F.col(ts_col).isNotNull())
        .select(*ents, day.alias("_day"))
        .distinct()
    )
    first = activity.groupBy(*ents).agg(
        F.min("_day").alias("_cohort_day")
    )
    joined = activity.join(first, ents)
    cells = joined.groupBy(
        F.col("_cohort_day").alias("cohort_day"),
        F.datediff(F.col("_day"), F.col("_cohort_day"))
        .cast("long")
        .alias("day_offset"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_active"))
    sizes = first.groupBy(
        F.col("_cohort_day").alias("cohort_day")
    ).agg(F.count(F.lit(1)).cast("long").alias("cohort_size"))
    out = cells.join(F.broadcast(sizes), "cohort_day")
    ret = F.col("n_active").cast("double") / F.col(
        "cohort_size"
    ).cast("double")
    return out.select(
        "cohort_day",
        "day_offset",
        "n_active",
        "cohort_size",
        (fixed(ret) / 1e6).alias("retention"),
    )


def oracle_cohort_sql(
    rel_sql: str, entity_cols: Sequence[str], ts_col: str
) -> str:
    """DuckDB twin of :func:`cohort_retention`."""
    ents = ", ".join(f'"{c}"' for c in entity_cols)
    return f"""
WITH activity AS (
  SELECT DISTINCT {ents},
         CAST(date_trunc('day', "{ts_col}") AS DATE) AS day
  FROM {rel_sql}
  WHERE "{ts_col}" IS NOT NULL
),
first_ AS (
  SELECT {ents}, min(day) AS cohort_day
  FROM activity GROUP BY {ents}
),
cells AS (
  SELECT cohort_day,
         CAST(date_diff('day', cohort_day, day) AS BIGINT)
           AS day_offset,
         CAST(count(*) AS BIGINT) AS n_active
  FROM activity JOIN first_ USING ({ents})
  GROUP BY cohort_day, day_offset
),
sizes AS (
  SELECT cohort_day, CAST(count(*) AS BIGINT) AS cohort_size
  FROM first_ GROUP BY cohort_day
)
SELECT c.cohort_day, c.day_offset, c.n_active, s.cohort_size,
       {fixed_abs_sql('(c.n_active)::DOUBLE / (s.cohort_size)::DOUBLE')}
         / 1000000.0 AS retention
FROM cells c JOIN sizes s USING (cohort_day)
"""
