"""Per-entity temporal trend features: exact OLS slope / intercept /
R² of a value against time, one hash-agg per entity.

The crawl-history feature the drift and churn operators don't give:
*direction*. "This page's content length grows 40 chars/day with
R² 0.9" feeds recrawl scheduling (``operators/crawl.py``) and
staleness features the same way `ewma` feeds level — and OLS over
(t, y) needs only the six moment sums, so the whole fit is ONE
partial-agg-friendly aggregate keyed on the entity. No reference
analogue — web-scale surface.

Execution shape, 100 TB lens: one corpus hash-agg (map-side partials
absorb per-entity history), six BIGINT sums per group; every output
statistic is a closed-form expression over the 1-row-per-entity
aggregate. No window, no join, no UDF.

Cross-engine determinism: time becomes integer seconds relative to
``ref_epoch`` (the ``windows._epoch_seconds`` idiom ↔ DuckDB
``CAST(floor(epoch(ts)) AS BIGINT)``); values are quantized to
integer ``val_scale``-ths per row (the micro-unit discipline, scale
chosen by the caller). All six sums are then exact BIGINTs and each
statistic is one fixed-order double expression, micro-rounded.

Overflow envelope (BIGINT sums, per entity): needs
``n · max|t|² < 2⁶³`` and ``n · max|y·scale|² < 2⁶³`` — e.g. a year
of seconds (|t| ≤ 3.2e7) allows n ≤ 9e3 snapshots per entity at
val_scale=1000 with |y| ≤ 1e5; pick ``ref_epoch`` near the corpus
and ``val_scale`` no finer than the data needs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from med_doi_feature_extraction_spark.kernels.fixed import (
    fixed,
    fixed_abs,
    fixed_abs_sql,
    fixed_sql,
)
from med_doi_feature_extraction_spark.operators.windows import (
    _epoch_seconds,
    entity_window,
)


def trend_features(
    df: DataFrame,
    entity_cols: Sequence[str],
    ts_col: str,
    val_col: str,
    ref_epoch: int,
    val_scale: int = 1000,
) -> DataFrame:
    """Per-entity OLS fit of ``val_col`` against time. Output, one
    row per entity: ``*entity_cols, n_obs, t_span_sec,
    slope_per_day`` (value units/day), ``intercept`` (value units at
    ``ref_epoch``), ``r2`` (6 dp each; slope/intercept NULL when all
    observations share one timestamp, r2 additionally NULL when the
    value is constant). NULL ts/value rows dropped."""
    t = _epoch_seconds(F.col(ts_col)) - F.lit(int(ref_epoch))
    v = F.col(val_col).cast("double")
    y = fixed(v, val_scale)
    rows = df.filter(
        F.col(ts_col).isNotNull() & v.isNotNull()
    ).select(*entity_cols, t.alias("_t"), y.alias("_y"))
    agg = rows.groupBy(*entity_cols).agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("_t").cast("long").alias("_st"),
        F.sum("_y").cast("long").alias("_sy"),
        F.sum(F.col("_t") * F.col("_t")).cast("long").alias("_stt"),
        F.sum(F.col("_t") * F.col("_y")).cast("long").alias("_sty"),
        F.sum(F.col("_y") * F.col("_y")).cast("long").alias("_syy"),
        (F.max("_t") - F.min("_t")).cast("long").alias("t_span_sec"),
    )
    n = F.col("_n")
    num = (n * F.col("_sty") - F.col("_st") * F.col("_sy")).cast("double")
    den = (n * F.col("_stt") - F.col("_st") * F.col("_st")).cast("double")
    deny = (n * F.col("_syy") - F.col("_sy") * F.col("_sy")).cast("double")
    scale = F.lit(float(val_scale))
    slope_day = F.when(den > 0, num / den * F.lit(86400.0) / scale)
    intercept = F.when(
        den > 0,
        (
            F.col("_sy").cast("double")
            - num / den * F.col("_st").cast("double")
        )
        / n.cast("double")
        / scale,
    )
    r2 = F.when((den > 0) & (deny > 0), num * num / (den * deny))
    return agg.select(
        *entity_cols,
        n.alias("n_obs"),
        "t_span_sec",
        (fixed(slope_day) / 1e6).alias("slope_per_day"),
        (fixed(intercept) / 1e6).alias("intercept"),
        (fixed(r2) / 1e6).alias("r2"),
    )


def oracle_trend_sql(
    rel_sql: str,
    entity_exprs: Sequence[str],
    ts_expr: str,
    val_expr: str,
    ref_epoch: int,
    val_scale: int = 1000,
) -> str:
    """DuckDB twin of :func:`trend_features`."""
    ents = ", ".join(entity_exprs)
    sc = float(val_scale)
    y = fixed_sql(val_expr, sc)
    num = "(n * sty - st * sy)::DOUBLE"
    den = "(n * stt - st * st)::DOUBLE"
    deny = "(n * syy - sy * sy)::DOUBLE"
    slope = f"{num} / {den} * 86400.0 / {sc!r}"
    intercept = (
        f"((sy)::DOUBLE - {num} / {den} * (st)::DOUBLE)"
        f" / (n)::DOUBLE / {sc!r}"
    )
    r2 = f"{num} * {num} / ({den} * {deny})"
    return f"""
WITH rows_ AS (
  SELECT {ents},
         CAST(floor(epoch({ts_expr})) AS BIGINT) - {int(ref_epoch)} AS t,
         {y} AS y
  FROM {rel_sql}
  WHERE {ts_expr} IS NOT NULL AND {val_expr} IS NOT NULL
),
agg AS (
  SELECT {ents},
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(t) AS BIGINT) AS st,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(t * t) AS BIGINT) AS stt,
         CAST(sum(t * y) AS BIGINT) AS sty,
         CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(max(t) - min(t) AS BIGINT) AS t_span_sec
  FROM rows_ GROUP BY {ents}
)
SELECT {ents}, n AS n_obs, t_span_sec,
       CASE WHEN {den} > 0 THEN
         {fixed_sql(slope)} / 1000000.0 END AS slope_per_day,
       CASE WHEN {den} > 0 THEN
         {fixed_sql(intercept)} / 1000000.0 END AS intercept,
       CASE WHEN {den} > 0 AND {deny} > 0 THEN
         {fixed_sql(r2)} / 1000000.0 END AS r2
FROM agg
"""


def burstiness(
    df: DataFrame,
    entity_cols: Sequence[str],
    ts_col: str,
    tiebreak: Sequence[str] | None = None,
) -> DataFrame:
    """Per-entity inter-event cadence REGULARITY — the signal
    ``change_rate_features``' mean gap and :func:`trend_features`'
    direction both miss: a page recrawled every hour and one
    recrawled in daily bursts of 24 share the same mean gap but need
    opposite scheduler treatment, and burstiness is also a standing
    bot discriminator (machine traffic is either metronomic, B → −1,
    or far burstier than human editing, B → 1).

    One row per entity: ``*entity_cols, n_gaps, mean_gap_sec,
    std_gap_sec, cv, burstiness`` — Goh–Barabási
    ``B = (σ−μ)/(σ+μ)`` ∈ [−1, 1] (−1 metronome, 0 Poisson, → 1
    heavy-tailed bursts) and ``cv = σ/μ``; 6 dp; ``cv``/``B`` NULL
    when ``n_gaps = 0`` or μ = σ = 0 (degenerate all-zero gaps),
    ``std``/``B``/``cv`` NULL when ``n_gaps < 2`` (one gap has no
    dispersion).

    Execution shape, 100 TB lens: gaps come from ONE lag window and
    the moment sums from ONE hash-agg — both keyed on the entity, so
    they share a single exchange. Gaps are exact integer seconds
    (the ``_epoch_seconds`` idiom); Σg and Σg² accumulate as BIGINT
    (envelope: ``n·max_gap² < 2⁶³`` — a decade of seconds squared
    allows ~9·10⁴ snapshots per entity; beyond that, coarsen to
    integer minutes upstream). Every output is one fixed-order
    double expression, micro-rounded.
    """
    w = entity_window(entity_cols, ts_col, tiebreak)
    t = _epoch_seconds(F.col(ts_col))
    gap = (t - F.lag(t).over(w)).cast("long")
    rows = df.filter(F.col(ts_col).isNotNull()).select(
        *entity_cols, gap.alias("_g")
    )
    agg = rows.groupBy(*entity_cols).agg(
        F.count("_g").cast("long").alias("n_gaps"),
        F.coalesce(F.sum("_g"), F.lit(0)).cast("long").alias("_sg"),
        F.coalesce(F.sum(F.col("_g") * F.col("_g")), F.lit(0))
        .cast("long")
        .alias("_sgg"),
    )
    n = F.col("n_gaps")
    # try_divide: n = 0 (no gaps) must yield NULL, not an ANSI
    # divide-by-zero — the `when` guards below don't stop Spark from
    # evaluating `mean > 0` inside their conditions
    mean = F.try_divide(F.col("_sg").cast("double"), n.cast("double"))
    var = F.try_divide(
        (n * F.col("_sgg") - F.col("_sg") * F.col("_sg")).cast(
            "double"
        ),
        (n * n).cast("double"),
    )
    sd = F.sqrt(var)
    cv = F.when((n >= 2) & (mean > 0), F.try_divide(sd, mean))
    b = F.when((n >= 2) & (sd + mean > 0), (sd - mean) / (sd + mean))
    return agg.select(
        *entity_cols,
        "n_gaps",
        (fixed(F.when(n >= 1, mean)) / 1e6).alias("mean_gap_sec"),
        (fixed(F.when(n >= 2, sd)) / 1e6).alias("std_gap_sec"),
        (fixed(cv) / 1e6).alias("cv"),
        (fixed(b) / 1e6).alias("burstiness"),
    )


def oracle_burstiness_sql(
    rel_sql: str,
    entity_cols: Sequence[str],
    ts_col: str,
    tiebreak: Sequence[str] | None = None,
) -> str:
    """DuckDB twin of :func:`burstiness` — identical integer gap
    construction, BIGINT moments and fixed-order expressions."""
    ents = ", ".join(f'"{c}"' for c in entity_cols)
    order = ", ".join(
        [f'"{ts_col}"'] + [f'"{c}"' for c in (tiebreak or [])]
    )
    mean = "((sg)::DOUBLE / (n)::DOUBLE)"
    var = "((n * sgg - sg * sg)::DOUBLE / (n * n)::DOUBLE)"
    sd = f"sqrt({var})"
    return f"""
WITH g AS (
  SELECT {ents},
         CAST(floor(epoch("{ts_col}")) AS BIGINT)
           - CAST(floor(epoch(lag("{ts_col}") OVER w)) AS BIGINT) AS gp
  FROM {rel_sql}
  WHERE "{ts_col}" IS NOT NULL
  WINDOW w AS (PARTITION BY {ents} ORDER BY {order})
),
agg AS (
  SELECT {ents},
         CAST(count(gp) AS BIGINT) AS n,
         CAST(coalesce(sum(gp), 0) AS BIGINT) AS sg,
         CAST(coalesce(sum(gp * gp), 0) AS BIGINT) AS sgg
  FROM g GROUP BY {ents}
)
SELECT {ents}, n AS n_gaps,
       CASE WHEN n >= 1 THEN {fixed_sql(mean)} / 1000000.0 END
         AS mean_gap_sec,
       CASE WHEN n >= 2 THEN {fixed_sql(sd)} / 1000000.0 END
         AS std_gap_sec,
       CASE WHEN n >= 2 AND {mean} > 0
            THEN {fixed_sql(f'({sd} / {mean})')} / 1000000.0 END
         AS cv,
       CASE WHEN n >= 2 AND {sd} + {mean} > 0
            THEN {fixed_sql(f'(({sd} - {mean}) / ({sd} + {mean}))')}
                 / 1000000.0 END
         AS burstiness
FROM agg
"""


def autocorrelation(
    df: DataFrame,
    entity_cols: Sequence[str],
    ts_col: str,
    val_col: str,
    lag: int = 1,
    tiebreak: Sequence[str] | None = None,
    val_scale: int = 1000,
) -> DataFrame:
    """Per-entity lag-``k`` autocorrelation of a value series — the
    memory signal completing this module's temporal triad: ``trend``
    = direction, ``burstiness`` = cadence, autocorrelation = does
    the NEXT observation look like the LAST one (r₁ → 1: smooth
    drift, predict-from-previous works; r₁ → −1: oscillation, e.g.
    A/B-alternating template; r₁ ≈ 0: white noise — don't bother
    modeling).

    Sample form: plain Pearson over the per-entity consecutive pairs
    ``(y_t, y_{t−k})`` (both means estimated on the pairs — exact
    and tie-free, not the circular/fixed-mean textbook ACF; the two
    agree as n grows). One row per entity: ``*entity_cols, n_pairs,
    r`` (6 dp; NULL when either paired side is constant or
    ``n_pairs < 2``). NULL values break pairs (a pair needs both
    ends non-null).

    Execution shape, 100 TB lens: ONE lag window + ONE hash-agg of
    six BIGINT moment sums, both keyed on the entity — a single
    exchange. Values are quantized to integer ``val_scale``-ths per
    row (the :func:`trend_features` discipline) so the moments are
    exact; envelope ``n·max|y·scale|² < 2⁶³``. The correlation is
    ONE fixed-order double expression, micro-rounded.
    """
    if lag < 1:
        raise ValueError("lag must be >= 1")
    w = entity_window(entity_cols, ts_col, tiebreak)
    y = fixed(F.col(val_col).cast("double"), val_scale)
    rows = (
        df.filter(F.col(ts_col).isNotNull())
        .select(
            *entity_cols,
            F.col(ts_col),
            *[F.col(c) for c in (tiebreak or [])],
            y.alias("_y"),
        )
        .withColumn("_p", F.lag("_y", lag).over(w))
        .filter(F.col("_y").isNotNull() & F.col("_p").isNotNull())
        .select(*entity_cols, "_y", "_p")
    )
    a, b = F.col("_y"), F.col("_p")
    agg = rows.groupBy(*entity_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(a).cast("long").alias("_sa"),
        F.sum(b).cast("long").alias("_sb"),
        F.sum(a * b).cast("long").alias("_sab"),
        F.sum(a * a).cast("long").alias("_saa"),
        F.sum(b * b).cast("long").alias("_sbb"),
    )
    n = F.col("n_pairs")
    cov = (n * F.col("_sab") - F.col("_sa") * F.col("_sb")).cast(
        "double"
    )
    va = (n * F.col("_saa") - F.col("_sa") * F.col("_sa")).cast(
        "double"
    )
    vb = (n * F.col("_sbb") - F.col("_sb") * F.col("_sb")).cast(
        "double"
    )
    r = F.when(
        (n >= 2) & (va > 0) & (vb > 0),
        cov / (F.sqrt(va) * F.sqrt(vb)),
    )
    return agg.select(
        *entity_cols,
        "n_pairs",
        (fixed(r) / 1e6).alias("r"),
    )


def oracle_autocorrelation_sql(
    rel_sql: str,
    entity_cols: Sequence[str],
    ts_col: str,
    val_col: str,
    lag: int = 1,
    tiebreak: Sequence[str] | None = None,
    val_scale: int = 1000,
) -> str:
    """DuckDB twin of :func:`autocorrelation`."""
    ents = ", ".join(f'"{c}"' for c in entity_cols)
    order = ", ".join(
        [f'"{ts_col}"'] + [f'"{c}"' for c in (tiebreak or [])]
    )
    y = fixed_sql(f'"{val_col}"', val_scale)
    rr = "(cov)::DOUBLE / (sqrt((va)::DOUBLE) * sqrt((vb)::DOUBLE))"
    return f"""
WITH lagged AS (
  SELECT {ents}, {y} AS y,
         lag({y}, {lag}) OVER (PARTITION BY {ents}
                               ORDER BY {order}) AS p
  FROM {rel_sql}
  WHERE "{ts_col}" IS NOT NULL
),
agg AS (
  SELECT {ents},
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS sa, CAST(sum(p) AS BIGINT) AS sb,
         CAST(sum(y * p) AS BIGINT) AS sab,
         CAST(sum(y * y) AS BIGINT) AS saa,
         CAST(sum(p * p) AS BIGINT) AS sbb
  FROM lagged WHERE y IS NOT NULL AND p IS NOT NULL
  GROUP BY {ents}
),
fin AS (
  SELECT {ents}, n,
         (n * sab - sa * sb) AS cov,
         (n * saa - sa * sa) AS va,
         (n * sbb - sb * sb) AS vb
  FROM agg
)
SELECT {ents}, n AS n_pairs,
       CASE WHEN n >= 2 AND va > 0 AND vb > 0
            THEN {fixed_sql(rr)} / 1000000.0 END AS r
FROM fin
"""


def temporal_profile(
    df: DataFrame,
    entity_cols: Sequence[str],
    ts_col: str,
) -> DataFrame:
    """Per-entity activity CALENDAR concentration — when does this
    entity act, and how concentrated is that schedule: the feature a
    recrawl scheduler uses to HIT a page's update window instead of
    merely matching its rate, and a bot signal orthogonal to
    :func:`burstiness` (a cron job is concentrated in the hour grid
    even when its gap CV looks human).

    One row per entity: ``*entity_cols, n_events, peak_hour``
    (0–23, UTC; smallest hour on count ties — deterministic),
    ``peak_hour_share`` (6 dp), ``hour_entropy_norm`` (Shannon
    entropy of the 24-bin hour histogram / ln 24, 6 dp), ``peak_dow``
    (ISO 1=Mon..7=Sun, smallest on ties), ``peak_dow_share`` (6 dp).

    Execution shape, 100 TB lens: two bounded cell tables — per
    (entity, hour) ≤ 24 rows/entity and per (entity, dow) ≤ 7 — from
    ONE corpus scan each (hash-agg, map-side partials absorb
    everything); totals, argmax (min bin at max count) and the
    micro-unit entropy sum are all aggregates over those cell tables,
    every join keyed on the entity. No windows, no corpus re-scan.

    Cross-engine determinism: hour via ``hour(ts)`` (session TZ
    pinned UTC both engines); ISO dow via Spark ``weekday()+1`` ↔
    DuckDB ``isodow()`` (the only portable day numbering — Spark
    ``dayofweek`` counts Sunday=1, DuckDB ``dayofweek`` Sunday=0);
    counts exact BIGINT, shares one double division micro-rounded,
    entropy terms micro-unit BIGINTs before summation.
    """
    ents = list(entity_cols)

    def _bin_profile(bin_col: Column, prefix: str, k_max: int):
        cells = (
            df.filter(F.col(ts_col).isNotNull())
            .groupBy(*ents, bin_col.alias("_b"))
            .agg(F.count(F.lit(1)).cast("long").alias("_c"))
        )
        tot = cells.groupBy(*ents).agg(
            F.sum("_c").cast("long").alias("_n"),
            F.max("_c").cast("long").alias("_cmax"),
        )
        joined = cells.join(tot, ents)
        peak = (
            joined.filter(F.col("_c") == F.col("_cmax"))
            .groupBy(*ents)
            .agg(F.min("_b").cast("int").alias(f"{prefix}_peak"))
        )
        p = F.col("_c").cast("double") / F.col("_n").cast("double")
        term_u = fixed_abs(-(p * F.log(p)))
        ent_share = (
            joined.groupBy(*ents)
            .agg(
                F.first("_n").alias(f"{prefix}_n"),
                F.first("_cmax").alias(f"{prefix}_cmax"),
                F.sum(term_u).cast("long").alias(f"{prefix}_ent_u"),
            )
        )
        return ent_share.join(peak, ents)

    hour_p = _bin_profile(F.hour(F.col(ts_col)), "h", 24)
    dow_p = _bin_profile(
        F.weekday(F.col(ts_col)) + F.lit(1), "d", 7
    )

    def _share(cmax: str, n: str) -> Column:
        s = F.col(cmax).cast("double") / F.col(n).cast("double")
        return fixed(s) / 1e6

    import math

    out = hour_p.join(dow_p, ents)
    hnorm = (F.col("h_ent_u") / 1e6) / F.lit(math.log(24.0))
    return out.select(
        *ents,
        F.col("h_n").alias("n_events"),
        F.col("h_peak").alias("peak_hour"),
        _share("h_cmax", "h_n").alias("peak_hour_share"),
        (fixed(hnorm) / 1e6).alias("hour_entropy_norm"),
        F.col("d_peak").alias("peak_dow"),
        _share("d_cmax", "d_n").alias("peak_dow_share"),
    )


def oracle_temporal_profile_sql(
    rel_sql: str, entity_cols: Sequence[str], ts_col: str
) -> str:
    """DuckDB twin of :func:`temporal_profile`."""
    ents = ", ".join(f'"{c}"' for c in entity_cols)

    def prof(bin_expr: str, px: str) -> str:
        p = "((c)::DOUBLE / (n)::DOUBLE)"
        term = f"-({p} * ln({p}))"
        return f"""
{px}_cells AS (
  SELECT {ents}, {bin_expr} AS b, CAST(count(*) AS BIGINT) AS c
  FROM {rel_sql}
  WHERE "{ts_col}" IS NOT NULL
  GROUP BY {ents}, b
),
{px}_tot AS (
  SELECT {ents}, CAST(sum(c) AS BIGINT) AS n,
         CAST(max(c) AS BIGINT) AS cmax
  FROM {px}_cells GROUP BY {ents}
),
{px}_peak AS (
  SELECT {ents}, CAST(min(b) AS INTEGER) AS peak
  FROM {px}_cells JOIN {px}_tot USING ({ents})
  WHERE c = cmax GROUP BY {ents}
),
{px}_ent AS (
  SELECT {ents}, max(n) AS n, max(cmax) AS cmax,
         CAST(sum({fixed_abs_sql(term)}) AS BIGINT) AS ent_u
  FROM {px}_cells JOIN {px}_tot USING ({ents})
  GROUP BY {ents}
)"""

    share = lambda cmax, n: (
        fixed_abs_sql(f"({cmax})::DOUBLE / ({n})::DOUBLE") + " / 1000000.0"
    )
    hnorm = "((h.ent_u / 1000000.0) / ln(24.0))"
    return f"""
WITH {prof(f'hour("{ts_col}")', "h")},
{prof(f'isodow("{ts_col}")', "d")}
SELECT {ents},
       h.n AS n_events,
       hp.peak AS peak_hour,
       {share('h.cmax', 'h.n')} AS peak_hour_share,
       {fixed_abs_sql(hnorm)} / 1000000.0 AS hour_entropy_norm,
       dp.peak AS peak_dow,
       {share('d.cmax', 'd.n')} AS peak_dow_share
FROM h_ent h
JOIN h_peak hp USING ({ents})
JOIN d_ent d USING ({ents})
JOIN d_peak dp USING ({ents})
"""


def cusum_changepoints(
    df: DataFrame,
    entity_cols: Sequence[str],
    ts_col: str,
    val_col: str,
    kappa: float,
    threshold: float,
    n_base: int = 10,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Two-sided CUSUM change-point scores per entity: for each
    observation, the Page (1954) cumulative-sum statistics
    ``s_pos_micro`` / ``s_neg_micro`` (µ-units, BIGINT) against the
    entity's own baseline (mean of its first ``n_base`` observations)
    with slack ``kappa``, plus 0/1 alarm flags at ``threshold``. The
    crawl-monitoring primitive: a host whose page-size / latency /
    quality-score series drifts up or down fires an alarm at the
    first observation where the drift accumulates past the threshold.

    The textbook recursion ``S+_t = max(0, S+_{t-1} + x_t − µ − κ)``
    is not a window aggregate, but it has an exact closed form over
    prefix sums: with ``Q_t = Σ_{j≤t}(x_j − µ − κ)`` and ``Q_0 = 0``,
    ``S+_t = Q_t − min_{0≤j≤t} Q_j`` (and symmetrically ``S−_t =
    max_{0≤j≤t} R_j − R_t`` for ``R_t = Σ(x_j − µ + κ)``) — so the
    whole operator is ONE entity exchange: row_number + baseline avg
    + two cumsums + running min/max over the same window spec,
    collapsed by Catalyst into a single sort.

    Cross-engine exactness: every term is quantized to integer
    micro-units BEFORE the cumulative sums (value and baseline mean
    at 6 dp), so the window arithmetic is BIGINT — no float
    summation-order drift between Spark and an oracle engine.
    """
    from pyspark.sql.window import Window

    if n_base < 1:
        raise ValueError("n_base must be >= 1")
    ents = list(entity_cols)
    w = entity_window(ents, ts_col, tiebreak)
    w_all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    kappa_u = int(round(abs(kappa) * 1e6))
    thr_u = int(round(threshold * 1e6))

    d = df.withColumns(
        {
            "_rn": F.row_number().over(w),
            "_vu": fixed(F.col(val_col)),
        }
    ).withColumn(
        "_bu",
        fixed(
            F.avg(
                F.when(F.col("_rn") <= n_base, F.col(val_col))
            ).over(w_all)
        ),
    )
    q = F.sum(F.col("_vu") - F.col("_bu") - F.lit(kappa_u)).over(w_run)
    r = F.sum(F.col("_vu") - F.col("_bu") + F.lit(kappa_u)).over(w_run)
    d = d.withColumns({"_q": q, "_r": r})
    s_pos = F.col("_q") - F.least(
        F.lit(0).cast("long"), F.min("_q").over(w_run)
    )
    s_neg = (
        F.greatest(F.lit(0).cast("long"), F.max("_r").over(w_run))
        - F.col("_r")
    )
    return d.select(
        *ents,
        F.col(ts_col),
        F.col("_vu").alias("val_micro"),
        s_pos.alias("s_pos_micro"),
        s_neg.alias("s_neg_micro"),
        (s_pos > thr_u).cast("long").alias("alarm_up"),
        (s_neg > thr_u).cast("long").alias("alarm_dn"),
    )


def oracle_cusum_sql(
    rel_sql: str,
    entity_cols: Sequence[str],
    ts_col: str,
    val_col: str,
    kappa: float,
    threshold: float,
    n_base: int = 10,
    tiebreak: Sequence[str] = (),
) -> str:
    """DuckDB twin of :func:`cusum_changepoints` — identical integer
    micro-unit algebra over the same window frames."""
    ents = ", ".join(f'"{c}"' for c in entity_cols)
    order = ", ".join(
        f'"{c}" ASC' for c in [ts_col, *tiebreak]
    )
    kappa_u = int(round(abs(kappa) * 1e6))
    thr_u = int(round(threshold * 1e6))
    val_u = fixed_sql(f'"{val_col}"')
    base = (
        f'avg(CASE WHEN rn <= {n_base} THEN "{val_col}" END)'
        f" OVER (PARTITION BY {ents})"
    )
    return f"""
WITH numbered AS (
  SELECT *, row_number() OVER (PARTITION BY {ents} ORDER BY {order}) AS rn
  FROM {rel_sql}
),
based AS (
  SELECT *, {val_u} AS vu,
         {fixed_sql(base)} AS bu
  FROM numbered
),
summed AS (
  SELECT *,
    sum(vu - bu - {kappa_u}) OVER
      (PARTITION BY {ents} ORDER BY {order}
       ROWS UNBOUNDED PRECEDING) AS q,
    sum(vu - bu + {kappa_u}) OVER
      (PARTITION BY {ents} ORDER BY {order}
       ROWS UNBOUNDED PRECEDING) AS r
  FROM based
),
scored AS (
  SELECT *,
    q - least(CAST(0 AS BIGINT), min(q) OVER
      (PARTITION BY {ents} ORDER BY {order}
       ROWS UNBOUNDED PRECEDING)) AS s_pos,
    greatest(CAST(0 AS BIGINT), max(r) OVER
      (PARTITION BY {ents} ORDER BY {order}
       ROWS UNBOUNDED PRECEDING)) - r AS s_neg
  FROM summed
)
SELECT {ents}, "{ts_col}",
       CAST(vu AS BIGINT) AS val_micro,
       CAST(s_pos AS BIGINT) AS s_pos_micro,
       CAST(s_neg AS BIGINT) AS s_neg_micro,
       CAST(CASE WHEN s_pos > {thr_u} THEN 1 ELSE 0 END AS BIGINT) AS alarm_up,
       CAST(CASE WHEN s_neg > {thr_u} THEN 1 ELSE 0 END AS BIGINT) AS alarm_dn
FROM scored
"""
