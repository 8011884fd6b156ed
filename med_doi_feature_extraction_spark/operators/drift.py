"""Distribution-drift statistics between two corpus snapshots:
PSI (population stability index) over quantile bins and the exact
two-sample Kolmogorov–Smirnov statistic.

A recurring crawl re-extracts features every snapshot; before a new
snapshot's features feed training, the pipeline checks whether their
DISTRIBUTION moved — per-entity churn (``windows.snapshot_churn``)
and vocabulary drift (``lm.vocab_shift``) cover content, this module
covers numeric feature columns (lengths, scores, token counts). PSI
is the industry-standard binned divergence (> 0.2 = major shift); KS
is the exact nonparametric test statistic. The reference repo has no
analogue (single-snapshot records) — web-scale surface, same
disposition as gopher.py.

Execution shape, 100 TB lens:

- :func:`psi_table` — bin edges are ONE exact-percentile aggregate
  row over the baseline, broadcast back to both scans (the
  ``quantile_bin`` attach-a-global-scalar pattern; swap in
  ``approx_percentile`` at corpus scale, the rest is unchanged); bin
  assignment is a JVM array probe; the only aggregation is a
  hash-agg onto ≤ ``n_bins`` groups. Zero corpus-sized shuffles
  beyond the partial-agg exchange.
- :func:`ks_2samp` — per-value counts (ONE corpus hash-agg on the
  value), then :func:`~.order.global_cumsum`'s range-exchange
  prefix sums — the distinct-value table never funnels through a
  single-reducer window. The max/argmax is a 1-row
  ``TakeOrderedAndProject``.

Cross-engine determinism: every emitted float is an integer number
of micro-units (``floor(|x|·10⁶ + 0.5)`` on identically-computed
doubles, summed as BIGINT where a total is needed — double addition
is not associative, BIGINT addition is), so the DuckDB oracle
matches hash-for-hash with no boundary class.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from med_doi_feature_extraction_spark.kernels.fixed import (
    fixed,
    fixed_abs,
    fixed_abs_sql,
    fixed_sql,
)

#: PSI per-bin probability floor (standard practice: empty bins
#: contribute a large-but-finite term instead of ±inf).
PSI_EPS = 1e-6


def psi_table(
    df_base: DataFrame,
    df_new: DataFrame,
    col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Per-bin PSI decomposition of ``col`` between a baseline and a
    new snapshot. Bin edges are the baseline's exact ``i/n_bins``
    percentiles; bin ``i`` (1-based) collects values where exactly
    ``i-1`` edges are strictly below (ties belong to the LOWER bin —
    the ``feateng.quantile_bin`` convention). NULL values are
    dropped from both sides (documented contract; profile the null
    rate separately via ``operators/profile.py``).

    Output, one row per OCCUPIED bin plus totals repeated per row:
    ``bin, n_base, n_new, frac_base, frac_new, psi_term, psi_total``
    (fractions/terms 6 dp exact micro-units; term uses
    :data:`PSI_EPS`-floored probabilities; ``psi_total`` is the
    BIGINT micro-unit sum over ALL bins — order-free, identical in
    the oracle).
    """
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    fracs = [i / n_bins for i in range(1, n_bins)]
    x = F.col(col).cast("double")
    edges = (
        df_base.filter(x.isNotNull())
        .agg(
            F.percentile(x, F.lit(fracs).cast("array<double>")).alias(
                "_edges"
            )
        )
    )
    tagged = (
        df_base.filter(x.isNotNull())
        .select(x.alias("_v"), F.lit(1).alias("_is_base"))
        .unionByName(
            df_new.filter(x.isNotNull()).select(
                x.alias("_v"), F.lit(0).alias("_is_base")
            )
        )
    )
    binned = tagged.crossJoin(F.broadcast(edges)).select(
        (
            F.size(F.filter(F.col("_edges"), lambda e: F.col("_v") > e))
            + 1
        ).alias("bin"),
        "_is_base",
    )
    counts = binned.groupBy("bin").agg(
        F.sum("_is_base").cast("long").alias("n_base"),
        F.sum(1 - F.col("_is_base")).cast("long").alias("n_new"),
    )
    totals = counts.agg(
        F.sum("n_base").cast("double").alias("_tb"),
        F.sum("n_new").cast("double").alias("_tn"),
    )
    eps = F.lit(PSI_EPS)
    pb = F.greatest(F.col("n_base") / F.col("_tb"), eps)
    pn = F.greatest(F.col("n_new") / F.col("_tn"), eps)
    term_u = fixed((pb - pn) * F.log(pb / pn))
    with_term = counts.crossJoin(F.broadcast(totals)).select(
        "bin",
        "n_base",
        "n_new",
        (fixed(F.col("n_base") / F.col("_tb")) / 1e6).alias("frac_base"),
        (fixed(F.col("n_new") / F.col("_tn")) / 1e6).alias("frac_new"),
        term_u.alias("_term_u"),
    )
    total_u = with_term.agg(
        F.sum("_term_u").cast("long").alias("_total_u")
    )
    return (
        with_term.crossJoin(F.broadcast(total_u))
        .select(
            "bin",
            "n_base",
            "n_new",
            "frac_base",
            "frac_new",
            (F.col("_term_u") / 1e6).alias("psi_term"),
            (F.col("_total_u") / 1e6).alias("psi_total"),
        )
    )


def ks_2samp(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic on ``col``:
    ``D = max over observed values of |F_a(v) − F_b(v)|`` with the
    empirical CDFs evaluated at every distinct value (right-
    continuous: the cumulative INCLUDES the value). NULLs dropped.

    Returns ONE row: ``ks_stat`` (6 dp micro-units), ``at_value``
    (the smallest value attaining the max on the micro-unit scale —
    deterministic tiebreak), ``n_a``, ``n_b``.

    Distributed shape: one hash-agg to per-value counts, then
    :func:`~.order.global_cumsum` (range exchange + bounded
    per-partition-totals collect — no single-reducer window), then a
    1-row ``TakeOrderedAndProject``. Totals ``n_a``/``n_b`` are a
    1-row aggregate over the (distinct-value-sized) cumsum frame,
    broadcast back — the attach-a-global-scalar pattern.
    """
    from med_doi_feature_extraction_spark.operators.order import (
        global_cumsum,
    )

    x = F.col(col).cast("double")
    tagged = (
        df_a.filter(x.isNotNull())
        .select(x.alias("v"), F.lit(1).alias("_a"))
        .unionByName(
            df_b.filter(x.isNotNull()).select(
                x.alias("v"), F.lit(0).alias("_a")
            )
        )
    )
    per_value = tagged.groupBy("v").agg(
        F.sum("_a").cast("long").alias("ca"),
        F.sum(1 - F.col("_a")).cast("long").alias("cb"),
    )
    cum = global_cumsum(
        per_value, ["v"], ["ca", "cb"], num_partitions=num_partitions
    )
    # totals = the final prefix values; recompute from the same
    # bounded aggregate rather than re-scanning the corpus
    tot = cum.agg(
        F.max("ca_cum").cast("double").alias("na"),
        F.max("cb_cum").cast("double").alias("nb"),
    )
    diff_u = fixed(
        F.abs(
            F.col("ca_cum") / F.col("na") - F.col("cb_cum") / F.col("nb")
        )
    )
    scored = cum.crossJoin(F.broadcast(tot)).select(
        "v",
        diff_u.alias("_du"),
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
    )
    return (
        scored.orderBy(F.col("_du").desc(), F.col("v").asc())
        .limit(1)
        .select(
            (F.col("_du") / 1e6).alias("ks_stat"),
            F.col("v").alias("at_value"),
            "n_a",
            "n_b",
        )
    )


# --- DuckDB twins -----------------------------------------------------

def oracle_psi_sql(
    base_sql: str, new_sql: str, col: str, n_bins: int = 10
) -> str:
    """DuckDB query mirroring :func:`psi_table` — edges via
    ``quantile_cont`` (the ``F.percentile`` interpolation twin),
    identical bin rule, identical micro-unit arithmetic.
    ``base_sql``/``new_sql`` are relation expressions each exposing
    ``col``."""
    fracs = ", ".join(str(i / n_bins) for i in range(1, n_bins))
    pb = f"greatest(n_base / tb, {PSI_EPS})"
    pn = f"greatest(n_new / tn, {PSI_EPS})"
    term = f"({pb} - {pn}) * ln({pb} / {pn})"
    return f"""
WITH base AS (SELECT ({col})::DOUBLE AS v FROM {base_sql} WHERE {col} IS NOT NULL),
newer AS (SELECT ({col})::DOUBLE AS v FROM {new_sql} WHERE {col} IS NOT NULL),
edges AS (SELECT quantile_cont(v, [{fracs}]) AS e FROM base),
tagged AS (
  SELECT v, 1 AS is_base FROM base
  UNION ALL SELECT v, 0 AS is_base FROM newer
),
binned AS (
  SELECT len(list_filter(edges.e, x -> v > x)) + 1 AS bin, is_base
  FROM tagged, edges
),
counts AS (
  SELECT bin,
         CAST(sum(is_base) AS BIGINT) AS n_base,
         CAST(sum(1 - is_base) AS BIGINT) AS n_new
  FROM binned GROUP BY bin
),
totals AS (
  SELECT CAST(sum(n_base) AS DOUBLE) AS tb,
         CAST(sum(n_new) AS DOUBLE) AS tn
  FROM counts
),
terms AS (
  SELECT bin, n_base, n_new,
         {fixed_sql('n_base / tb')} AS fb_u,
         {fixed_sql('n_new / tn')} AS fn_u,
         {fixed_sql(term)} AS term_u
  FROM counts, totals
)
SELECT bin, n_base, n_new,
       fb_u / 1000000.0 AS frac_base,
       fn_u / 1000000.0 AS frac_new,
       term_u / 1000000.0 AS psi_term,
       (SELECT CAST(sum(term_u) AS BIGINT) FROM terms) / 1000000.0
         AS psi_total
FROM terms
"""


def oracle_ks_sql(a_sql: str, b_sql: str, col: str) -> str:
    """DuckDB query mirroring :func:`ks_2samp` (single-node window
    cumsum — the shape :func:`~.order.global_cumsum` replaces)."""
    diff = "ca_cum / na - cb_cum / nb"
    return f"""
WITH a AS (SELECT ({col})::DOUBLE AS v FROM {a_sql} WHERE {col} IS NOT NULL),
b AS (SELECT ({col})::DOUBLE AS v FROM {b_sql} WHERE {col} IS NOT NULL),
tagged AS (
  SELECT v, 1 AS is_a FROM a UNION ALL SELECT v, 0 AS is_a FROM b
),
per_value AS (
  SELECT v, CAST(sum(is_a) AS BIGINT) AS ca,
         CAST(sum(1 - is_a) AS BIGINT) AS cb
  FROM tagged GROUP BY v
),
cum AS (
  SELECT v,
         CAST(sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ca_cum,
         CAST(sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cb_cum
  FROM per_value
),
tot AS (
  SELECT CAST(max(ca_cum) AS DOUBLE) AS na,
         CAST(max(cb_cum) AS DOUBLE) AS nb
  FROM cum
),
scored AS (
  SELECT v, {fixed_sql(f'abs({diff})')} AS du,
         CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b
  FROM cum, tot
)
SELECT du / 1000000.0 AS ks_stat, v AS at_value, n_a, n_b
FROM scored
ORDER BY du DESC, v ASC
LIMIT 1
"""


def mannwhitney_u(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Two-sample Mann–Whitney U (rank-sum) test on ``col`` — the
    robust companion to :func:`ks_2samp`: KS reacts to any CDF gap,
    U specifically to a location shift, and both run off the same
    per-value-counts + :func:`~.order.global_cumsum` frame. NULLs
    dropped. Midranks handle ties exactly.

    Returns ONE row: ``u_a, u_b`` (exact, .5-granular — carried as
    doubles from exact BIGINT doubled-units), ``z`` (normal
    approximation with the tie correction, 6 dp micro-units; NULL
    when the variance is 0, i.e. every value tied), ``n_a, n_b``.

    Exactness: midranks in DOUBLED units are integers
    (``2·before + t + 1``), so the rank sum is an exact BIGINT; the
    tie term ``Σ(t³−t)`` is BIGINT; ``z`` is one fixed-order double
    expression over those integers — identical cross-engine.
    """
    from med_doi_feature_extraction_spark.operators.order import (
        global_cumsum,
    )

    x = F.col(col).cast("double")
    tagged = (
        df_a.filter(x.isNotNull())
        .select(x.alias("v"), F.lit(1).alias("_a"))
        .unionByName(
            df_b.filter(x.isNotNull()).select(
                x.alias("v"), F.lit(0).alias("_a")
            )
        )
    )
    per_value = tagged.groupBy("v").agg(
        F.sum("_a").cast("long").alias("ca"),
        F.sum(1 - F.col("_a")).cast("long").alias("cb"),
    )
    t = (F.col("ca") + F.col("cb")).cast("long")
    cum = global_cumsum(
        per_value.withColumn("t", t),
        ["v"],
        ["ca", "cb", "t"],
        num_partitions=num_partitions,
    )
    # doubled-unit midrank of value v: 2*(#values below) + t + 1
    mid2 = 2 * (F.col("t_cum") - F.col("t")) + F.col("t") + 1
    sums = cum.agg(
        F.sum(F.col("ca") * mid2).cast("long").alias("_ra2"),
        F.sum(
            F.col("t") * F.col("t") * F.col("t") - F.col("t")
        ).cast("long").alias("_ties"),
        F.max("ca_cum").cast("long").alias("_na"),
        F.max("cb_cum").cast("long").alias("_nb"),
    )
    na, nb = F.col("_na"), F.col("_nb")
    n = na + nb
    u2_a = F.col("_ra2") - na * (na + 1)  # 2*U_a, exact BIGINT
    u_a = u2_a.cast("double") / F.lit(2.0)
    u_b = (na * nb).cast("double") - u_a
    mu = (na * nb).cast("double") / F.lit(2.0)
    var = (
        (na * nb).cast("double")
        / F.lit(12.0)
        * (
            (n + 1).cast("double")
            - F.col("_ties").cast("double")
            / (n.cast("double") * (n - 1).cast("double"))
        )
    )
    z = F.when(var > 0, (u_a - mu) / F.sqrt(var))
    z6 = fixed(z) / 1e6
    return sums.select(
        u_a.alias("u_a"),
        u_b.alias("u_b"),
        z6.alias("z"),
        na.alias("n_a"),
        nb.alias("n_b"),
    )


def oracle_mannwhitney_sql(a_sql: str, b_sql: str, col: str) -> str:
    """DuckDB twin of :func:`mannwhitney_u` (single-node window
    cumsum — the shape global_cumsum replaces)."""
    z = (
        "(u2a::DOUBLE / 2.0 - (na * nb)::DOUBLE / 2.0)"
        " / sqrt((na * nb)::DOUBLE / 12.0 * ((na + nb + 1)::DOUBLE"
        " - (ties)::DOUBLE / ((na + nb)::DOUBLE * (na + nb - 1)::DOUBLE)))"
    )
    return f"""
WITH a AS (SELECT ({col})::DOUBLE AS v FROM {a_sql} WHERE {col} IS NOT NULL),
b AS (SELECT ({col})::DOUBLE AS v FROM {b_sql} WHERE {col} IS NOT NULL),
tagged AS (
  SELECT v, 1 AS is_a FROM a UNION ALL SELECT v, 0 AS is_a FROM b
),
per_value AS (
  SELECT v, CAST(sum(is_a) AS BIGINT) AS ca,
         CAST(sum(1 - is_a) AS BIGINT) AS cb,
         CAST(count(*) AS BIGINT) AS t
  FROM tagged GROUP BY v
),
cum AS (
  SELECT v, ca, cb, t,
         CAST(sum(t) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS t_cum,
         CAST(sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS ca_cum,
         CAST(sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cb_cum
  FROM per_value
),
sums AS (
  SELECT CAST(sum(ca * (2 * (t_cum - t) + t + 1)) AS BIGINT) AS ra2,
         CAST(sum(t * t * t - t) AS BIGINT) AS ties,
         CAST(max(ca_cum) AS BIGINT) AS na,
         CAST(max(cb_cum) AS BIGINT) AS nb
  FROM cum
),
stats AS (
  SELECT ra2 - na * (na + 1) AS u2a, ties, na, nb FROM sums
),
vard AS (
  SELECT u2a, na, nb,
         (na * nb)::DOUBLE / 12.0 * ((na + nb + 1)::DOUBLE
           - (ties)::DOUBLE / ((na + nb)::DOUBLE * (na + nb - 1)::DOUBLE))
           AS var, ties
  FROM stats
)
SELECT u2a::DOUBLE / 2.0 AS u_a,
       (na * nb)::DOUBLE - u2a::DOUBLE / 2.0 AS u_b,
       CASE WHEN var > 0 THEN
         {fixed_sql(z)} / 1000000.0
       END AS z,
       na AS n_a, nb AS n_b
FROM vard
"""


def psi_by_group(
    df_base: DataFrame,
    df_new: DataFrame,
    col: str,
    group_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Segmented :func:`psi_table`: one PSI total per ``group_col``
    level (language, source, shard...), with each group binned by its
    OWN baseline percentiles — the "which segment drifted?" dashboard
    row. Groups present only in the new snapshot are skipped (no
    baseline to bin against — they are new-segment alerts for
    ``profile``/``concentration``, not drift). NULL values/groups
    dropped.

    Output, one row per group: ``group, n_base, n_new, psi``
    (6 dp micro-unit BIGINT sum over that group's bins — order-free).

    Shape: per-group exact percentiles are ONE bounded aggregate
    (groups × (n_bins−1) doubles) broadcast back to both scans; the
    corpus reduces through a (group, bin) hash-agg — ≤ groups·n_bins
    rows; everything after is joins on that tiny frame.
    """
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    fracs = [i / n_bins for i in range(1, n_bins)]
    x = F.col(col).cast("double")
    g = F.col(group_col)
    edges = (
        df_base.filter(x.isNotNull() & g.isNotNull())
        .groupBy(g.alias("_g"))
        .agg(
            F.percentile(x, F.lit(fracs).cast("array<double>")).alias(
                "_edges"
            )
        )
    )
    tagged = (
        df_base.filter(x.isNotNull() & g.isNotNull())
        .select(g.alias("_g"), x.alias("_v"), F.lit(1).alias("_is_base"))
        .unionByName(
            df_new.filter(x.isNotNull() & g.isNotNull()).select(
                g.alias("_g"), x.alias("_v"), F.lit(0).alias("_is_base")
            )
        )
    )
    binned = tagged.join(F.broadcast(edges), "_g").select(
        "_g",
        (
            F.size(F.filter(F.col("_edges"), lambda e: F.col("_v") > e))
            + 1
        ).alias("_bin"),
        "_is_base",
    )
    counts = binned.groupBy("_g", "_bin").agg(
        F.sum("_is_base").cast("long").alias("_nb"),
        F.sum(1 - F.col("_is_base")).cast("long").alias("_nn"),
    )
    totals = counts.groupBy("_g").agg(
        F.sum("_nb").cast("double").alias("_tb"),
        F.sum("_nn").cast("double").alias("_tn"),
    )
    eps = F.lit(PSI_EPS)
    j = counts.join(F.broadcast(totals), "_g")
    pb = F.greatest(F.col("_nb") / F.col("_tb"), eps)
    pn = F.when(
        F.col("_tn") > 0,
        F.greatest(F.col("_nn") / F.col("_tn"), eps),
    ).otherwise(eps)
    term_u = fixed((pb - pn) * F.log(pb / pn))
    agg = j.groupBy("_g").agg(
        F.sum(term_u).cast("long").alias("_psi_u"),
        F.sum("_nb").cast("long").alias("n_base"),
        F.sum("_nn").cast("long").alias("n_new"),
    )
    return agg.select(
        F.col("_g").alias("group"),
        "n_base",
        "n_new",
        (F.col("_psi_u") / 1e6).alias("psi"),
    )


def oracle_psi_by_group_sql(
    base_sql: str,
    new_sql: str,
    col: str,
    group_expr: str,
    n_bins: int = 10,
) -> str:
    """DuckDB twin of :func:`psi_by_group`."""
    fracs = ", ".join(str(i / n_bins) for i in range(1, n_bins))
    pb = f"greatest(nb / tb, {PSI_EPS})"
    pn = (
        f"(CASE WHEN tn > 0 THEN greatest(nn / tn, {PSI_EPS})"
        f" ELSE {PSI_EPS} END)"
    )
    term = f"({pb} - {pn}) * ln({pb} / {pn})"
    return f"""
WITH base AS (
  SELECT {group_expr} AS g, ({col})::DOUBLE AS v FROM {base_sql}
  WHERE {col} IS NOT NULL AND {group_expr} IS NOT NULL
),
newer AS (
  SELECT {group_expr} AS g, ({col})::DOUBLE AS v FROM {new_sql}
  WHERE {col} IS NOT NULL AND {group_expr} IS NOT NULL
),
edges AS (SELECT g, quantile_cont(v, [{fracs}]) AS e FROM base GROUP BY g),
tagged AS (
  SELECT g, v, 1 AS is_base FROM base
  UNION ALL SELECT g, v, 0 AS is_base FROM newer
),
binned AS (
  SELECT tagged.g AS g,
         len(list_filter(edges.e, x -> v > x)) + 1 AS bin, is_base
  FROM tagged JOIN edges ON tagged.g = edges.g
),
counts AS (
  SELECT g, bin,
         CAST(sum(is_base) AS BIGINT) AS nb,
         CAST(sum(1 - is_base) AS BIGINT) AS nn
  FROM binned GROUP BY g, bin
),
totals AS (
  SELECT g, CAST(sum(nb) AS DOUBLE) AS tb,
         CAST(sum(nn) AS DOUBLE) AS tn
  FROM counts GROUP BY g
)
SELECT counts.g AS "group",
       CAST(sum(nb) AS BIGINT) AS n_base,
       CAST(sum(nn) AS BIGINT) AS n_new,
       CAST(sum({fixed_sql(term)}) AS BIGINT) / 1000000.0 AS psi
FROM counts JOIN totals ON counts.g = totals.g
GROUP BY counts.g
"""


def benford_digits(
    df: DataFrame, col: str, scale: int = 100
) -> DataFrame:
    """Benford's-law first-digit audit of a numeric column — the
    fabricated-data / pipeline-bug tripwire: organically-generated
    magnitudes (transaction values, byte counts, inlink counts)
    follow ``P(d) = log10(1 + 1/d)``; a synthetic injection, a stuck
    default, or a unit mix-up shows up as a first-digit distribution
    that visibly departs from it long before summary stats move.

    Output, exactly nine rows (digits 1–9, absent digits kept with
    zero counts): ``digit, n_digit, obs_share, exp_share, chi2_term``
    plus the table-level ``chi2`` and ``mad`` (mean absolute
    deviation of shares, Nigrini's conformity measure) repeated on
    each row — the 9-row frame is the natural grain and the totals
    belong with it. Values are quantized to integer ``scale``-ths
    (half-away rounding); rows whose quantized magnitude is zero are
    excluded (Benford concerns nonzero magnitudes), as are NULLs.
    Envelope: ``|value|·scale < 2⁶³`` — the quantized magnitude is a
    BIGINT; beyond it the cast saturates and the digit is garbage.
    Pick ``scale`` accordingly.

    Execution shape, 100 TB lens: first digit is string head of the
    quantized BIGINT (pure codegen — no log10 edge cases at powers
    of ten), ONE corpus hash-agg onto ≤ 9 groups (map-side partials
    absorb everything), a broadcast join onto the static 9-row digit
    frame, and 1-row totals. Zero corpus-sized shuffles.

    Cross-engine determinism: counts are exact BIGINTs; shares and
    χ² terms are fixed-order double expressions micro-rounded per
    digit; the table totals sum the micro-unit BIGINTs (order-free),
    never raw doubles.
    """
    m = fixed_abs(F.col(col), scale)
    digit = F.substring(m.cast("string"), 1, 1).cast("int")
    counts = (
        df.filter(F.col(col).isNotNull())
        .select(m.alias("_m"), digit.alias("_d"))
        .filter(F.col("_m") > 0)
        .groupBy("_d")
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
    )
    digits = df.sparkSession.range(1, 10).select(
        F.col("id").cast("int").alias("digit")
    )
    full = digits.join(
        counts.withColumnRenamed("_d", "digit"), "digit", "left"
    ).select(
        "digit", F.coalesce("_c", F.lit(0)).cast("long").alias("n_digit")
    )
    tot = full.agg(F.sum("n_digit").cast("long").alias("_n"))
    exp_share = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    obs_share = F.col("n_digit").cast("double") / F.col("_n").cast(
        "double"
    )
    e_cnt = F.col("_n").cast("double") * exp_share
    chi2_term = (
        (F.col("n_digit").cast("double") - e_cnt)
        * (F.col("n_digit").cast("double") - e_cnt)
        / e_cnt
    )

    per = full.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n_digit",
        F.col("_n"),
        fixed(obs_share).alias("_obs_u"),
        fixed(exp_share).alias("_exp_u"),
        fixed(chi2_term).alias("_chi_u"),
        fixed(F.abs(obs_share - exp_share)).alias("_dev_u"),
    )
    tots = per.agg(
        F.sum("_chi_u").cast("long").alias("_chi_sum"),
        F.sum("_dev_u").cast("long").alias("_dev_sum"),
    )
    return (
        per.crossJoin(F.broadcast(tots))
        .select(
            "digit",
            "n_digit",
            (F.col("_obs_u") / 1e6).alias("obs_share"),
            (F.col("_exp_u") / 1e6).alias("exp_share"),
            (F.col("_chi_u") / 1e6).alias("chi2_term"),
            (F.col("_chi_sum").cast("double") / 1e6).alias("chi2"),
            F.round(
                F.col("_dev_sum").cast("double") / F.lit(9e6), 6
            ).alias("mad"),
        )
        .orderBy("digit")
    )


def oracle_benford_sql(rel_sql: str, col: str, scale: int = 100) -> str:
    """DuckDB twin of :func:`benford_digits` — identical quantization,
    string-head digit, micro-unit terms and BIGINT totals."""

    obs = "((n_digit)::DOUBLE / (n)::DOUBLE)"
    exp_ = "log10(1.0 + 1.0 / digit)"
    ec = f"((n)::DOUBLE * {exp_})"
    chi = (
        f"(((n_digit)::DOUBLE - {ec}) * ((n_digit)::DOUBLE - {ec})"
        f" / {ec})"
    )
    return f"""
WITH vals AS (
  SELECT {fixed_abs_sql(f'"{col}"', scale)} AS m
  FROM {rel_sql}
  WHERE "{col}" IS NOT NULL
),
counts AS (
  SELECT CAST(substring(CAST(m AS VARCHAR), 1, 1) AS INTEGER) AS digit,
         CAST(count(*) AS BIGINT) AS n_digit
  FROM vals WHERE m > 0 GROUP BY 1
),
full_ AS (
  SELECT d.digit, coalesce(c.n_digit, 0) AS n_digit
  FROM (SELECT unnest(range(1, 10)) AS digit) d
  LEFT JOIN counts c ON c.digit = d.digit
),
tot AS (SELECT CAST(sum(n_digit) AS BIGINT) AS n FROM full_),
per AS (
  SELECT digit, n_digit, n,
         {fixed_sql(obs)} AS obs_u,
         {fixed_sql(exp_)} AS exp_u,
         {fixed_sql(chi)} AS chi_u,
         {fixed_sql(f'abs({obs} - {exp_})')} AS dev_u
  FROM full_ CROSS JOIN tot
),
tots AS (
  SELECT CAST(sum(chi_u) AS BIGINT) AS chi_sum,
         CAST(sum(dev_u) AS BIGINT) AS dev_sum
  FROM per
)
SELECT CAST(digit AS INTEGER) AS digit, n_digit,
       obs_u / 1000000.0 AS obs_share,
       exp_u / 1000000.0 AS exp_share,
       chi_u / 1000000.0 AS chi2_term,
       (chi_sum)::DOUBLE / 1000000.0 AS chi2,
       round((dev_sum)::DOUBLE / 9000000.0, 6) AS mad
FROM per CROSS JOIN tots
ORDER BY digit
"""
