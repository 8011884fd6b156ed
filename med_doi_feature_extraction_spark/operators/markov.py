"""First-order Markov transition statistics over per-entity event
sequences.

The sequence-structure profile a behavioral pipeline wants before it
models sessions: which event follows which, per-transition
probability and lift vs the unconditional next-event distribution.
High-lift transitions are the skeleton of funnel hypotheses
(``funnel.session_funnel`` then TESTS an ordered chain); near-zero
rows expose impossible-transition bugs in instrumentation. No
reference analogue — web-scale surface (the reference processes
records independently).

Execution shape, 100 TB lens: consecutive pairs come from ONE lag
window on the entity exchange; everything after operates on the
``(prev, next)`` count table, which is bounded by k² for a k-valued
type column — marginals, totals and lift are joins/aggregates over
that tiny frame. One corpus-sized exchange total.

Cross-engine determinism: counts are exact BIGINTs; probabilities
and lift are fixed-order double ratios of BIGINTs, micro-rounded.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from med_doi_feature_extraction_spark.kernels.fixed import (
    fixed,
    fixed_abs_sql,
    fixed_sql,
)
from med_doi_feature_extraction_spark.operators.windows import entity_window


def transition_matrix(
    df: DataFrame,
    entity_cols: Sequence[str],
    ts_col: str,
    type_col: str,
    tiebreak: Sequence[str] | None = None,
) -> DataFrame:
    """One row per observed ``(prev_type, next_type)`` transition:
    ``prev_type, next_type, n, p`` (= n / Σ_next n, the conditional
    next-step probability, 6 dp), ``p_next`` (unconditional share of
    ``next_type`` among all transition targets) and ``lift``
    (= p / p_next; > 1 means prev makes next more likely than base
    rate). Transitions never cross entities; NULL-typed events break
    the chain (neither side of a pair).
    """
    w = entity_window(entity_cols, ts_col, tiebreak)
    pairs = (
        df.filter(F.col(ts_col).isNotNull())
        .select(
            *entity_cols,
            F.col(ts_col),
            *[F.col(c) for c in (tiebreak or [])],
            F.col(type_col).alias("_cur"),
        )
        .withColumn("_prev", F.lag("_cur").over(w))
        .filter(F.col("_cur").isNotNull() & F.col("_prev").isNotNull())
        .select("_prev", "_cur")
    )
    cells = pairs.groupBy(
        F.col("_prev").alias("prev_type"),
        F.col("_cur").alias("next_type"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    row_tot = cells.groupBy("prev_type").agg(
        F.sum("n").cast("long").alias("_row_n")
    )
    col_tot = cells.groupBy("next_type").agg(
        F.sum("n").cast("long").alias("_col_n")
    )
    grand = cells.agg(F.sum("n").cast("long").alias("_all_n"))
    j = (
        cells.join(F.broadcast(row_tot), "prev_type")
        .join(F.broadcast(col_tot), "next_type")
        .crossJoin(F.broadcast(grand))
    )
    p = F.col("n").cast("double") / F.col("_row_n").cast("double")
    p_next = F.col("_col_n").cast("double") / F.col("_all_n").cast(
        "double"
    )
    lift = p / p_next
    return j.select(
        "prev_type",
        "next_type",
        "n",
        (fixed(p) / 1e6).alias("p"),
        (fixed(p_next) / 1e6).alias("p_next"),
        (fixed(lift) / 1e6).alias("lift"),
    )


def oracle_transition_sql(
    rel_sql: str,
    entity_cols: Sequence[str],
    ts_col: str,
    type_col: str,
    tiebreak: Sequence[str] | None = None,
) -> str:
    """DuckDB twin of :func:`transition_matrix`."""
    ents = ", ".join(f'"{c}"' for c in entity_cols)
    order = ", ".join(
        [f'"{ts_col}"'] + [f'"{c}"' for c in (tiebreak or [])]
    )

    p = "((n)::DOUBLE / (row_n)::DOUBLE)"
    pn = "((col_n)::DOUBLE / (all_n)::DOUBLE)"
    lift = f"({p} / {pn})"
    return f"""
WITH pairs AS (
  SELECT lag("{type_col}") OVER (PARTITION BY {ents}
                                 ORDER BY {order}) AS prev_type,
         "{type_col}" AS next_type
  FROM {rel_sql}
  WHERE "{ts_col}" IS NOT NULL
),
cells AS (
  SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
  FROM pairs
  WHERE prev_type IS NOT NULL AND next_type IS NOT NULL
  GROUP BY prev_type, next_type
),
rt AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS row_n
       FROM cells GROUP BY prev_type),
ct AS (SELECT next_type, CAST(sum(n) AS BIGINT) AS col_n
       FROM cells GROUP BY next_type),
g AS (SELECT CAST(sum(n) AS BIGINT) AS all_n FROM cells)
SELECT prev_type, next_type, n,
       {fixed_sql(p)} / 1000000.0 AS p,
       {fixed_sql(pn)} / 1000000.0 AS p_next,
       {fixed_sql(lift)} / 1000000.0 AS lift
FROM cells
JOIN rt USING (prev_type)
JOIN ct USING (next_type)
CROSS JOIN g
"""


def session_paths(
    df: DataFrame,
    session_cols: Sequence[str],
    ts_col: str,
    type_col: str,
    tiebreak: Sequence[str] | None = None,
    max_len: int = 20,
    k: int = 50,
) -> DataFrame:
    """Top-``k`` full session paths — the empirical sequences behind
    :func:`transition_matrix`'s first-order view (the matrix says
    click→purchase is likely; the path table says whether the mass
    is "view>click>purchase" or "view>click>view>click>purchase").
    One row per surviving path: ``path`` (``>``-joined event types,
    capped at ``max_len`` steps), ``n_steps`` (pre-cap length),
    ``truncated``, ``n_sessions``, ``share`` (of all sessions, 6 dp)
    — ordered by ``n_sessions`` DESC then path, LIMIT k
    (deterministic: path is unique per row).

    NULL-typed events are skipped inside the path (documented —
    they are instrumentation holes, not steps); sessions with no
    typed events are dropped.

    Execution shape, 100 TB lens: ONE hash-agg per session
    collecting the (bounded-by-session-length) ordered struct array,
    path algebra in the same projection, ONE hash-agg onto distinct
    paths (Zipf-headed — map-side partials absorb the hot paths),
    1-row total broadcast, and a ``TakeOrderedAndProject`` top-k —
    never a global sort. ``max_len`` caps the path string's shuffle
    width.
    """
    if max_len < 1 or k < 1:
        raise ValueError("max_len and k must be >= 1")
    order_fields = [F.col(ts_col)] + [
        F.col(c) for c in (tiebreak or [])
    ]
    ev = F.struct(
        *[f.alias(f"_o{i}") for i, f in enumerate(order_fields)],
        F.col(type_col).alias("_t"),
    )
    per = (
        df.filter(F.col(ts_col).isNotNull() & F.col(type_col).isNotNull())
        .groupBy(*session_cols)
        .agg(F.sort_array(F.collect_list(ev)).alias("_evs"))
    )
    types = F.transform(F.col("_evs"), lambda x: x["_t"])
    n_steps = F.size(types)
    path = F.array_join(F.slice(types, 1, max_len), ">")
    paths = per.select(
        path.alias("path"),
        n_steps.alias("_n_steps"),
        (n_steps > max_len).alias("truncated"),
    )
    counted = paths.groupBy("path", "truncated").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.min("_n_steps").cast("long").alias("n_steps"),
    )
    tot = counted.agg(
        F.sum("n_sessions").cast("long").alias("_tot")
    )
    share = F.col("n_sessions").cast("double") / F.col("_tot").cast(
        "double"
    )
    return (
        counted.crossJoin(F.broadcast(tot))
        .select(
            "path",
            "n_steps",
            "truncated",
            "n_sessions",
            (fixed(share) / 1e6).alias("share"),
        )
        .orderBy(F.desc("n_sessions"), "path")
        .limit(k)
    )


def oracle_session_paths_sql(
    rel_sql: str,
    session_exprs: Sequence[str],
    ts_col: str,
    type_col: str,
    tiebreak: Sequence[str] | None = None,
    max_len: int = 20,
    k: int = 50,
) -> str:
    """DuckDB twin of :func:`session_paths`. ``session_exprs`` are
    the grouping expressions (may be computed, e.g. a session id
    CTE's columns)."""
    sess = ", ".join(session_exprs)
    order = ", ".join(
        [f'"{ts_col}"'] + [f'"{c}"' for c in (tiebreak or [])]
    )
    return f"""
WITH per AS (
  SELECT {sess},
         list("{type_col}" ORDER BY {order}) AS types
  FROM {rel_sql}
  WHERE "{ts_col}" IS NOT NULL AND "{type_col}" IS NOT NULL
  GROUP BY {sess}
),
paths AS (
  SELECT array_to_string(list_slice(types, 1, {max_len}), '>') AS path,
         CAST(len(types) AS BIGINT) AS n_steps,
         len(types) > {max_len} AS truncated
  FROM per
),
counted AS (
  SELECT path, truncated,
         CAST(count(*) AS BIGINT) AS n_sessions,
         CAST(min(n_steps) AS BIGINT) AS n_steps
  FROM paths GROUP BY path, truncated
),
tot AS (SELECT CAST(sum(n_sessions) AS BIGINT) AS t FROM counted)
SELECT path, n_steps, truncated, n_sessions,
       {fixed_abs_sql('(n_sessions)::DOUBLE / (t)::DOUBLE')}
         / 1000000.0 AS share
FROM counted CROSS JOIN tot
ORDER BY n_sessions DESC, path
LIMIT {k}
"""
