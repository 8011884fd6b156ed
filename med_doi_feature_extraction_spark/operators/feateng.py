"""Leakage-safe feature-engineering transforms over entity×timestamp
data: EWMA, time-aware target encoding, per-group normalization, and
equal-frequency quantile binning.

These extend the windowed feature family (``operators/windows.py``,
reference analogue: the per-record feature maps of
``src/services/extraction_service.py``) with the transforms a
training-data pipeline applies after the raw features exist. The
north-rule constraint carries over: nothing here may look at the
current or future rows when encoding history (zero temporal leakage),
and everything partitions by entity — no global sorts, no driver
collects, no per-row Python.

Scale notes
-----------
* ``ewma`` groups by entity via ``applyInPandas`` — the same
  bounded-entity contract every ``Window.partitionBy(entity)`` op in
  this package already has (a crawl history per url is thousands of
  rows, not billions). The pandas ``ewm`` recursion is numerically
  stable for arbitrarily long histories, unlike the closed-form
  power-weight formula (which the DuckDB oracle uses at test scale,
  where exponents stay tiny).
* ``time_target_encode`` is pure window algebra: one shuffle on the
  key, plus a 1-row global-prior aggregate broadcast back (never an
  unpartitioned window, which would serialize on one task).
* ``quantile_bin`` computes boundaries in ONE aggregate row and
  broadcasts them; at 100 TB swap ``F.percentile`` for
  ``F.approx_percentile`` — same plumbing, sketch-mergeable. Exact
  percentile is kept as the default because the contract oracle
  (DuckDB ``quantile_cont``) defines linear interpolation the same
  way.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from med_doi_feature_extraction_spark.operators.windows import entity_window


def ewma(
    df: DataFrame,
    entity: str,
    ts: str,
    cols: Sequence[str],
    alpha: float,
    tiebreak: Sequence[str] | None = None,
) -> DataFrame:
    """Per-entity exponentially weighted moving average of ``cols``
    ordered by ``ts`` (then ``tiebreak`` for a total order).

    ``adjust=True`` semantics (the pandas default):
    ``y_t = sum_i x_i (1-a)^(t-i) / sum_i (1-a)^(t-i)`` over ``i<=t``
    — the current row IS included, so use ``with_lag_lead`` first if
    a strictly-historical smoother is needed. NaN inputs keep their
    weight slot but drop out of both sums (``ignore_na=False``).

    Arrow-batched ``applyInPandas``: one shuffle on the entity key,
    vectorized ``Series.ewm`` inside, output schema = input +
    ``{col}_ewma`` doubles.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    order = [ts, *(tiebreak or [])]
    out_schema = T.StructType(
        df.schema.fields
        + [T.StructField(f"{c}_ewma", T.DoubleType()) for c in cols]
    )
    cols = list(cols)

    def _ewm(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order, kind="mergesort")
        for c in cols:
            pdf[f"{c}_ewma"] = (
                pdf[c].astype("float64").ewm(alpha=alpha, adjust=True).mean()
            )
        return pdf

    return df.groupBy(entity).applyInPandas(_ewm, schema=out_schema)


def time_target_encode(
    df: DataFrame,
    key: str,
    ts: str,
    target: str,
    smoothing: float = 10.0,
    out_col: str = "target_enc",
    tiebreak: Sequence[str] | None = None,
) -> DataFrame:
    """Time-aware target encoding with zero leakage: each row's code
    is the smoothed mean of ``target`` over STRICTLY EARLIER rows of
    the same ``key`` — the current row and the future never reach
    their own encoding (the as-of-join discipline applied to category
    encoding).

    ``code = (hist_sum + smoothing * prior) / (hist_count + smoothing)``
    where ``prior`` is the global target mean; a key's first row gets
    exactly the prior. Plan shape: one window shuffle on ``key``, one
    1-row aggregate broadcast-joined back.
    """
    w = entity_window(key, ts, tiebreak).rowsBetween(
        Window.unboundedPreceding, -1
    )
    prior = df.agg(F.avg(target).alias("_prior"))
    hist_sum = F.coalesce(F.sum(target).over(w), F.lit(0.0))
    hist_cnt = F.coalesce(F.count(target).over(w), F.lit(0))
    return (
        df.withColumns({"_hsum": hist_sum, "_hcnt": hist_cnt})
        .crossJoin(F.broadcast(prior))
        .withColumn(
            out_col,
            (F.col("_hsum") + F.lit(smoothing) * F.col("_prior"))
            / (F.col("_hcnt") + F.lit(smoothing)),
        )
        .drop("_hsum", "_hcnt", "_prior")
    )


def normalize_features(
    df: DataFrame,
    key: str | Sequence[str] | None,
    cols: Sequence[str],
    method: str = "zscore",
) -> DataFrame:
    """Per-group feature scaling: ``zscore`` → ``(x - mean)/stddev``
    (sample stddev), ``minmax`` → ``(x - min)/(max - min)``.

    ``key=None`` scales globally via a 1-row aggregate broadcast (NOT
    an unpartitioned window — that would serialize the table through
    one task). Degenerate groups (zero variance / constant) yield
    NULL, not a division blow-up: a constant feature carries no
    signal and downstream imputation should see that explicitly.
    """
    if method not in ("zscore", "minmax"):
        raise ValueError(f"unknown method {method!r}")
    keys = [key] if isinstance(key, str) else list(key or [])

    def _exprs(get):
        out = {}
        for c in cols:
            if method == "zscore":
                mu, sd = get(F.avg(c), c, "mu"), get(F.stddev_samp(c), c, "sd")
                out[f"{c}_norm"] = F.when(
                    sd > 0, (F.col(c) - mu) / sd
                )
            else:
                lo, hi = get(F.min(c), c, "lo"), get(F.max(c), c, "hi")
                out[f"{c}_norm"] = F.when(
                    hi > lo, (F.col(c) - lo) / (hi - lo)
                )
        return out

    if keys:
        w = Window.partitionBy(*keys)
        return df.withColumns(_exprs(lambda e, c, tag: e.over(w)))
    stat_cols = [
        (e, f"_{tag}_{c}")
        for c in cols
        for e, tag in (
            ((F.avg(c), "mu"), (F.stddev_samp(c), "sd"))
            if method == "zscore"
            else ((F.min(c), "lo"), (F.max(c), "hi"))
        )
    ]
    stats = df.agg(*[e.alias(name) for e, name in stat_cols])
    out = df.crossJoin(F.broadcast(stats)).withColumns(
        _exprs(lambda e, c, tag: F.col(f"_{tag}_{c}"))
    )
    return out.drop(*[name for _, name in stat_cols])


def quantile_bin(
    df: DataFrame,
    col: str,
    n_bins: int,
    out_col: str | None = None,
) -> DataFrame:
    """Equal-frequency binning: bin ``i`` (1-based) spans the
    ``(i-1)/n .. i/n`` quantile range of ``col``. Boundaries come
    from ONE exact-percentile aggregate row broadcast back to the
    scan; the bin expression is a JVM array probe
    (``1 + #{boundaries < x}``), no per-row Python.

    At corpus scale, swap the boundary aggregate for
    ``F.approx_percentile`` (t-digest, mergeable) — the broadcast and
    probe are unchanged. NULL input → NULL bin.
    """
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    out_col = out_col or f"{col}_bin"
    fracs = [i / n_bins for i in range(1, n_bins)]
    bounds = df.agg(
        F.percentile(col, F.lit(fracs).cast("array<double>")).alias("_bounds")
    )
    x = F.col(col).cast("double")
    bin_expr = F.when(
        x.isNotNull(),
        (
            F.size(F.filter(F.col("_bounds"), lambda b: x > b)) + 1
        ).cast("int"),
    )
    return (
        df.crossJoin(F.broadcast(bounds))
        .withColumn(out_col, bin_expr)
        .drop("_bounds")
    )


def calendar_features(
    df: DataFrame, ts: str, prefix: str | None = None
) -> DataFrame:
    """Calendar/cyclical features from a timestamp column: ISO day of
    week (1=Monday), hour, day of month, month, ISO week, weekend
    flag, and sin/cos encodings of hour-of-day and day-of-week (the
    standard trick for giving linear models the wrap-around: hour 23
    and hour 0 are neighbors on the circle, not 23 apart).

    Pure Column algebra on the scan stage — no shuffle, codegen'd.
    Spark's ``dayofweek`` is 1=Sunday; the ISO mapping
    ``((dayofweek + 5) %% 7) + 1`` is written out explicitly so the
    DuckDB oracle (``isodow``) and any other engine agree by
    construction rather than by convention."""
    import math

    p = prefix if prefix is not None else f"{ts}_"
    t = F.col(ts).cast("timestamp")
    dow_iso = ((F.dayofweek(t) + 5) % 7) + 1
    hour = F.hour(t)
    two_pi = 2 * math.pi
    return (
        df.withColumn(f"{p}dow", dow_iso.cast("int"))
        .withColumn(f"{p}hour", hour.cast("int"))
        .withColumn(f"{p}day", F.dayofmonth(t).cast("int"))
        .withColumn(f"{p}month", F.month(t).cast("int"))
        .withColumn(f"{p}week", F.weekofyear(t).cast("int"))
        .withColumn(f"{p}is_weekend", dow_iso >= 6)
        .withColumn(f"{p}hour_sin", F.sin(hour * (two_pi / 24)))
        .withColumn(f"{p}hour_cos", F.cos(hour * (two_pi / 24)))
        .withColumn(f"{p}dow_sin", F.sin((dow_iso - 1) * (two_pi / 7)))
        .withColumn(f"{p}dow_cos", F.cos((dow_iso - 1) * (two_pi / 7)))
    )


def winsorize(
    df: DataFrame,
    key: str | Sequence[str] | None,
    cols: Sequence[str],
    lower: float = 0.01,
    upper: float = 0.99,
) -> DataFrame:
    """Per-group quantile clipping (winsorization): each column is
    clipped to its group's ``[lower, upper]`` exact interpolated
    percentiles — the robust-outlier companion of
    :func:`normalize_features` (heavy-tailed web features: page
    sizes, link counts, token lengths).

    Emits ``{col}_wins``; NULLs pass through untouched. ``key=None``
    clips globally via a 1-row aggregate broadcast (never an
    unpartitioned window). At corpus scale swap ``F.percentile`` for
    ``F.approx_percentile`` — identical plumbing (the
    ``quantile_bin`` argument).
    """
    if not 0.0 <= lower < upper <= 1.0:
        raise ValueError(f"need 0 <= lower < upper <= 1, got {lower}/{upper}")
    keys = [key] if isinstance(key, str) else list(key or [])

    def _clip(c, lo, hi):
        return F.when(F.col(c) < lo, lo).when(F.col(c) > hi, hi).otherwise(
            F.col(c)
        )

    if keys:
        w = Window.partitionBy(*keys)
        return df.withColumns(
            {
                f"{c}_wins": _clip(
                    c,
                    F.percentile(c, F.lit(lower)).over(w),
                    F.percentile(c, F.lit(upper)).over(w),
                )
                for c in cols
            }
        )
    stats = df.agg(
        *[
            e
            for c in cols
            for e in (
                F.percentile(c, F.lit(lower)).alias(f"_lo_{c}"),
                F.percentile(c, F.lit(upper)).alias(f"_hi_{c}"),
            )
        ]
    )
    out = df.crossJoin(F.broadcast(stats)).withColumns(
        {
            f"{c}_wins": _clip(c, F.col(f"_lo_{c}"), F.col(f"_hi_{c}"))
            for c in cols
        }
    )
    return out.drop(*[n for c in cols for n in (f"_lo_{c}", f"_hi_{c}")])


def feature_hash(
    df: DataFrame,
    id_col: str,
    tokens_col: str | F.Column,
    dim: int = 1 << 18,
    signed: bool = True,
    salt: str = "fh",
) -> DataFrame:
    """Hashing-trick vectorizer: token multiset → SPARSE feature rows
    ``(id, idx, val)`` with ``idx = H(token) % dim`` and (if
    ``signed``) each occurrence contributing ±1 by a second hash bit —
    the collision-debiasing variant of Weinberger et al. 2009
    (feature hashing), the fixed-width input layer for linear/GBDT
    models over unbounded vocabularies.

    Sparse-rows output is deliberate: at corpus scale the dense
    ``dim``-wide array per doc is the wrong layout (2^18 floats/doc of
    mostly zeros crossing every shuffle); the COO triples ARE the
    trainable format (and trivially pivot to dense client-side).
    Plan: explode → hash-agg on (id, idx) — token skew is absorbed by
    the partial agg, and the hash itself is the engine-portable sha256
    (``sampling.hash_uniform``'s tag scheme) so the oracle can recompute
    every index and sign exactly. Zero-sum cancelled features (signed
    collisions) are kept as explicit 0 rows — dropping them would make
    the output depend on collision layout.
    """
    toks = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    ex = df.select(F.col(id_col).alias("id"), F.explode(toks).alias("_t"))
    tagged = F.concat(F.coalesce(F.col("_t"), F.lit("")), F.lit("|" + salt))
    h = F.conv(F.substring(F.sha2(tagged, 256), 1, 8), 16, 10).cast("long")
    idx = F.pmod(h, F.lit(dim))
    if signed:
        # 9th hex nibble parity — independent of the index bits
        sign_bit = F.conv(F.substring(F.sha2(tagged, 256), 9, 1), 16, 10)
        val = F.when(sign_bit.cast("int") % 2 == 0, F.lit(1)).otherwise(
            F.lit(-1)
        )
    else:
        val = F.lit(1)
    return (
        ex.select("id", idx.alias("idx"), val.alias("_v"))
        .groupBy("id", "idx")
        .agg(F.sum("_v").alias("val"))
    )


def oracle_feature_hash_sql(
    token_expr: str, dim: int, signed: bool = True, salt: str = "fh"
) -> str:
    """DuckDB twins of :func:`feature_hash`'s index/sign expressions
    (returns ``(idx_expr, val_expr)`` as a SQL fragment pair via a
    dict) — kept beside the Spark code so they cannot drift."""
    tagged = f"coalesce({token_expr}, '') || '|{salt}'"
    idx = f"CAST(('0x' || substr(sha256({tagged}), 1, 8))::UBIGINT % {dim} AS BIGINT)"
    if signed:
        val = (
            f"CASE WHEN ('0x' || substr(sha256({tagged}), 9, 1))::UBIGINT % 2 = 0 "
            f"THEN 1 ELSE -1 END"
        )
    else:
        val = "1"
    return {"idx": idx, "val": val}


def robust_outliers(
    df: DataFrame,
    key: str | Sequence[str] | None,
    col: str,
    thresh: float = 3.5,
) -> DataFrame:
    """Robust per-group outlier detection via the modified z-score
    (Iglewicz–Hoaglin): ``rz = 0.6745 · (x − median) / MAD`` with
    ``MAD = median(|x − median|)``. Mean/stddev outlier gates break on
    exactly the heavy-tailed web distributions they're meant to police
    (one 2 GB page drags the mean); median/MAD have a 50% breakdown
    point.

    Emits ``{col}_med``, ``{col}_mad``, ``{col}_rz`` (round-6,
    portable), ``{col}_outlier`` (``|rz| > thresh``; False when rz is
    undefined). Degenerate groups (MAD 0: over half the values
    identical) and NULL inputs report NULL rz and never flag —
    error-as-data, the caller sees the NULL.

    Shape: exact interpolated percentiles over two windows sharing ONE
    partitioning exchange (the second window reuses the first's
    hash-partitioning — no extra shuffle, same layout argument as the
    windows stack); ``key=None`` uses chained 1-row broadcast
    aggregates, never an unpartitioned window. At corpus scale swap
    ``F.percentile`` for ``F.approx_percentile`` — identical plumbing
    (the ``quantile_bin`` argument).
    """
    keys = [key] if isinstance(key, str) else list(key or [])
    if keys:
        w = Window.partitionBy(*keys)
        d = df.withColumn("_med", F.percentile(col, F.lit(0.5)).over(w))
        d = d.withColumn("_absdev", F.abs(F.col(col) - F.col("_med")))
        d = d.withColumn(
            "_mad", F.percentile("_absdev", F.lit(0.5)).over(w)
        )
    else:
        stats = df.agg(F.percentile(col, F.lit(0.5)).alias("_med"))
        d = df.crossJoin(F.broadcast(stats)).withColumn(
            "_absdev", F.abs(F.col(col) - F.col("_med"))
        )
        mad = d.agg(F.percentile("_absdev", F.lit(0.5)).alias("_mad"))
        d = d.crossJoin(F.broadcast(mad))
    rz = F.when(
        F.col("_mad") > 0,
        F.round(
            F.lit(0.6745) * (F.col(col) - F.col("_med")) / F.col("_mad"), 6
        ),
    )
    return (
        d.withColumn(f"{col}_rz", rz)
        .withColumn(
            f"{col}_outlier",
            F.coalesce(
                F.abs(F.col(f"{col}_rz")) > F.lit(float(thresh)),
                F.lit(False),
            ),
        )
        .withColumn(f"{col}_med", F.round("_med", 6))
        .withColumn(f"{col}_mad", F.round("_mad", 6))
        .drop("_med", "_absdev", "_mad")
    )


def quantile_normalize(
    df: DataFrame,
    group_col: str,
    col: str,
    n_grid: int = 100,
    out_col: str | None = None,
) -> DataFrame:
    """Cross-group quantile normalization — the batch-effect remover:
    map every value onto the POOLED distribution by its within-group
    rank, so "this page is at its source's 90th length percentile"
    becomes the same number whatever the source's own scale. The
    standard pre-step before mixing per-source scores whose gates
    were tuned on different distributions (the genomics
    quantile-normalization recipe, group-wise).

    Per row: within-group ``percent_rank`` (SQL rank semantics —
    ties share a rank; deterministic without a tiebreak), then
    type-7 interpolation into the pooled ``n_grid+1``-point exact
    percentile grid. Output = input rows (value-NULL rows DROPPED —
    they have no rank; union them back upstream if needed) plus
    ``<col>_qnorm`` (6 dp). Singleton groups map to the pooled
    minimum (percent_rank 0 — SQL-standard; filter n_g<2 upstream
    when that reading is wrong).

    Execution shape, 100 TB lens: ONE pooled exact-percentile
    aggregate row broadcast back to the scan (the ``quantile_bin``
    pattern — swap in ``approx_percentile`` at corpus scale, grid
    and probe unchanged), ONE rank window on the group exchange, and
    pure array interpolation per row. No joins beyond the 1-row
    broadcast.
    """
    if n_grid < 2:
        raise ValueError("n_grid must be >= 2")
    out_col = out_col or f"{col}_qnorm"
    fracs = [i / n_grid for i in range(n_grid + 1)]
    grid = df.filter(F.col(col).isNotNull()).agg(
        F.percentile(col, F.lit(fracs).cast("array<double>")).alias(
            "_grid"
        )
    )
    w = Window.partitionBy(group_col).orderBy(F.col(col).asc())
    kept = df.filter(F.col(col).isNotNull()).withColumn(
        "_pr", F.percent_rank().over(w)
    )
    h = F.col("_pr") * F.lit(float(n_grid))
    lo = F.floor(h).cast("int")
    frac = h - lo.cast("double")
    v_lo = F.try_element_at(F.col("_grid"), lo + 1)
    v_hi = F.coalesce(F.try_element_at(F.col("_grid"), lo + 2), v_lo)
    x = v_lo * (F.lit(1.0) - frac) + v_hi * frac
    return (
        kept.crossJoin(F.broadcast(grid))
        .withColumn(out_col, F.round(x, 6))
        .drop("_pr", "_grid")
    )


def oracle_quantile_normalize_sql(
    rel_sql: str,
    group_col: str,
    col: str,
    select_cols: Sequence[str],
    n_grid: int = 100,
    out_col: str | None = None,
) -> str:
    """DuckDB twin of :func:`quantile_normalize` (``select_cols`` =
    passthrough projection, mirroring the contract query)."""
    out_col = out_col or f"{col}_qnorm"
    fracs = ", ".join(str(i / n_grid) for i in range(n_grid + 1))
    sel = ", ".join(f'"{c}"' for c in select_cols)
    h = f"(pr * {float(n_grid)!r})"
    lo = f"CAST(floor({h}) AS INTEGER)"
    frac = f"({h} - floor({h}))"
    v_lo = f"g[{lo} + 1]"
    v_hi = f"coalesce(g[{lo} + 2], {v_lo})"
    return f"""
WITH grid AS (
  SELECT quantile_cont("{col}", [{fracs}]) AS g
  FROM {rel_sql} WHERE "{col}" IS NOT NULL
),
ranked AS (
  SELECT *, percent_rank() OVER (PARTITION BY "{group_col}"
                                 ORDER BY "{col}" ASC) AS pr
  FROM {rel_sql} WHERE "{col}" IS NOT NULL
)
SELECT {sel},
       round({v_lo} * (1.0 - {frac}) + {v_hi} * {frac}, 6)
         AS {out_col}
FROM ranked CROSS JOIN grid
"""
