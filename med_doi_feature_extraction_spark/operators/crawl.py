"""Recrawl scheduling: priority = authority × P(page changed since we
last saw it change).

The composition the churn/authority signals exist FOR: a crawler with
a fixed budget should refetch pages that are (a) worth having fresh
(link authority — ``graph.pagerank``) and (b) likely stale (content
churn — ``windows.change_rate_features``). The standard freshness
model (Cho & Garcia-Molina 2003) treats changes as Poisson with rate
λ; the probability a page changed in the ``age`` seconds since its
last observed change is ``1 − exp(−λ·age)``.

Everything is Column algebra over two slim per-entity tables (the
corpus-sized work already happened inside the churn/authority
operators); the join is AQE-broadcastable. ``as_of`` is an explicit
parameter — a deterministic plan has no clock.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from med_doi_feature_extraction_spark.operators.windows import _epoch_seconds


def crawl_priority(
    churn: DataFrame,
    authority: DataFrame,
    as_of: str,
    entity: str = "node",
) -> DataFrame:
    """Join churn features (``change_rate_features`` output keyed by
    ``entity``) with authority scores (``pagerank`` output:
    ``node, rank``) → per-entity refetch priority.

    ``λ = change_rate / mean_gap_sec`` (changes per second — rate per
    observation × observations per second), ``age`` = seconds from the
    last OBSERVED CHANGE (never-changed pages fall back to... nothing:
    entities with undefined churn — singleton histories or zero
    changes — get NULL priority, explicitly; a scheduler funds those
    from an exploration budget, not from a made-up rate). Entities
    missing from the authority table get rank 0 → priority 0 (an
    unlinked page earns no freshness budget). Output priority is
    round-6 portable.
    """
    pr = authority.select(
        F.col("node").alias(entity), F.col("rank").alias("_pr")
    )
    j = churn.join(pr, entity, "left")
    lam = F.col("change_rate") / F.col("mean_gap_sec")
    age = _epoch_seconds(F.lit(as_of)) - _epoch_seconds(F.col("last_change_ts"))
    p_changed = F.lit(1.0) - F.exp(-lam * age)
    return j.select(
        F.col(entity),
        F.col("change_rate"),
        F.coalesce(F.col("_pr"), F.lit(0.0)).alias("authority"),
        F.round(
            F.coalesce(F.col("_pr"), F.lit(0.0)) * p_changed, 6
        ).alias("priority"),
    )


def politeness_budget(
    frontier: DataFrame,
    directives: DataFrame,
    agent: str = "*",
    default_delay_sec: float = 1.0,
    horizon_days: float = 7.0,
) -> DataFrame:
    """Per-host politeness-constrained crawl budget: how long the
    pending frontier takes to drain at the host's declared
    ``Crawl-delay`` (one connection per host — the politeness
    contract every large crawler honors), and whether it fits the
    scheduling horizon. The feasibility bit is the input to frontier
    re-prioritization: an infeasible host must be subsampled
    (e.g. :func:`~.sampling.group_cap`) or carried over.

    Inputs: ``frontier`` = (host, n_urls) pending-fetch census;
    ``directives`` = :func:`~.robots.robots_directives` output. The
    delay for ``agent`` wins over a wildcard ``*`` row; within the
    same specificity the LARGEST parsed delay wins (conservative);
    unparseable or absent delays fall back to ``default_delay_sec``.

    One row per frontier host: ``host, n_urls, crawl_delay,
    daily_capacity`` (= floor(86400/delay)), ``backlog_days``
    (= n_urls·delay/86400, 6 dp), ``feasible`` (backlog ≤ horizon).

    Execution shape, 100 TB lens: both inputs are per-host
    AGGREGATES (≪ corpus); the delay pick is two host-keyed
    hash-aggs (specificity argmin as ``min(struct(pref, -delay))``),
    the join AQE-broadcastable. The corpus-sized work happened
    upstream in the frontier census / robots parse.
    """
    if default_delay_sec <= 0:
        raise ValueError("default_delay_sec must be > 0")
    d = directives.filter(
        (F.col("directive") == "crawl-delay")
        & F.col("agent").isin(agent.lower(), "*")
    ).select(
        "host",
        F.when(F.col("agent") == agent.lower(), F.lit(0))
        .otherwise(F.lit(1))
        .alias("_pref"),
        F.col("value").try_cast("double").alias("_d"),
    ).filter(F.col("_d") > 0)
    pick = d.groupBy("host").agg(
        F.min(
            F.struct(F.col("_pref").alias("p"), (-F.col("_d")).alias("nd"))
        ).alias("_x")
    ).select("host", (-F.col("_x.nd")).alias("_delay"))
    j = frontier.join(pick, "host", "left")
    delay = F.coalesce(F.col("_delay"), F.lit(float(default_delay_sec)))
    backlog = F.col("n_urls").cast("double") * delay / F.lit(86400.0)
    return j.select(
        "host",
        F.col("n_urls").cast("long").alias("n_urls"),
        delay.alias("crawl_delay"),
        F.floor(F.lit(86400.0) / delay).cast("long").alias(
            "daily_capacity"
        ),
        F.round(backlog, 6).alias("backlog_days"),
        (backlog <= F.lit(float(horizon_days))).alias("feasible"),
    )


def oracle_politeness_sql(
    frontier_sql: str,
    directives_sql: str,
    agent: str = "*",
    default_delay_sec: float = 1.0,
    horizon_days: float = 7.0,
) -> str:
    """DuckDB twin of :func:`politeness_budget` (specificity argmin
    as min-pref filter + max(delay) — identical semantics)."""
    ag = agent.lower().replace("'", "''")
    return f"""
WITH d AS (
  SELECT host,
         CASE WHEN agent = '{ag}' THEN 0 ELSE 1 END AS pref,
         TRY_CAST(value AS DOUBLE) AS dl
  FROM {directives_sql}
  WHERE directive = 'crawl-delay' AND agent IN ('{ag}', '*')
    AND TRY_CAST(value AS DOUBLE) > 0
),
bp AS (SELECT host, min(pref) AS mp FROM d GROUP BY host),
pick AS (
  SELECT d.host, max(d.dl) AS delay
  FROM d JOIN bp ON d.host = bp.host AND d.pref = bp.mp
  GROUP BY d.host
),
j AS (
  SELECT f.host, f.n_urls,
         coalesce(p.delay, {float(default_delay_sec)}) AS delay
  FROM {frontier_sql} f LEFT JOIN pick p ON f.host = p.host
)
SELECT host, CAST(n_urls AS BIGINT) AS n_urls,
       delay AS crawl_delay,
       CAST(floor(86400.0 / delay) AS BIGINT) AS daily_capacity,
       round((n_urls)::DOUBLE * delay / 86400.0, 6) AS backlog_days,
       ((n_urls)::DOUBLE * delay / 86400.0 <= {float(horizon_days)})
         AS feasible
FROM j
"""
