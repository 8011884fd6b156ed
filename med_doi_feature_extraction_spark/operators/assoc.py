"""Column-association profilers: all-pairs Pearson correlation for
integer-valued features and Cramér's V for categorical pairs.

After feature engineering (``operators/feateng.py``) and before a
model gate trains, the pipeline checks which engineered features are
redundant (|r| ≈ 1 → drop one) and which categorical fields are
confounded (V ≈ 1 → leakage suspects, e.g. a "source" column that
fully determines the label). Complements
``profile.column_entropy`` (per-column information) with the
pairwise view. No reference analogue — web-scale surface,
gopher.py disposition.

Execution shape, 100 TB lens:

- :func:`pearson_matrix` — ONE full-scan 1-row aggregate computing
  the six moment sums for every pair (pairwise-complete rows):
  ``k(k−1)/2 × 6`` partial-agg cells, map-side combined, then the
  correlation formula runs on the 1-row result. No joins, no
  shuffle beyond the 1-row final merge.
- :func:`cramers_v` — per pair: one column-pruned scan to the
  bounded (a, b) contingency (hash-agg; cardinality bounded by
  contract — these are categorical fields), row/col totals as
  broadcast joins on the TINY cell table. A pair list runs one scan
  each — k cheap pruned scans beat one rid-keyed self-join shuffle
  of the melted corpus at scale.

Cross-engine determinism: moment sums stay in BIGINT (exact,
order-free — callers pre-scale float features to integer units, the
``column_entropy`` discipline; the docstring states the overflow
envelope), each statistic is ONE fixed-order double expression,
then 1e-6 micro-unit rounding; chi² cell terms are micro-unit
BIGINTs before summation.
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


def pearson_matrix(
    df: DataFrame, columns: Sequence[str]
) -> DataFrame:
    """Pearson correlation for every pair of integer-valued
    ``columns``, pairwise-complete (a pair's sums use exactly the
    rows where BOTH sides are non-null). Output, one row per
    unordered pair (``col_x < col_y`` lexicographically): ``col_x,
    col_y, n_pairs, r`` (6 dp; NULL when either side is constant on
    the pairwise-complete rows — zero variance has no correlation).

    Exactness envelope: sums are BIGINT — safe while
    ``n · max|x|² < 2⁶³`` (e.g. 10⁹ rows of |x| ≤ 10⁶ at 10¹²-row
    scale, profile a deterministic :mod:`~.sampling` sample or
    pre-scale). Float features: scale to integer units first (their
    raw sums would be addition-order-dependent).
    """
    cols = sorted(columns)
    if len(cols) < 2:
        raise ValueError("pearson_matrix needs >= 2 columns")
    aggs = []
    pairs = []
    for i, cx in enumerate(cols):
        for cy in cols[i + 1:]:
            pairs.append((cx, cy))
            both = F.col(cx).isNotNull() & F.col(cy).isNotNull()
            x = F.when(both, F.col(cx).cast("long")).otherwise(F.lit(None))
            y = F.when(both, F.col(cy).cast("long")).otherwise(F.lit(None))
            tag = f"{cx}__{cy}"
            aggs += [
                F.count(x).alias(f"_n_{tag}"),
                F.sum(x).alias(f"_sx_{tag}"),
                F.sum(y).alias(f"_sy_{tag}"),
                F.sum(x * y).alias(f"_sxy_{tag}"),
                F.sum(x * x).alias(f"_sxx_{tag}"),
                F.sum(y * y).alias(f"_syy_{tag}"),
            ]
    row = df.agg(*aggs)
    outs = []
    for cx, cy in pairs:
        tag = f"{cx}__{cy}"
        n = F.col(f"_n_{tag}")
        sx, sy = F.col(f"_sx_{tag}"), F.col(f"_sy_{tag}")
        sxy, sxx, syy = (
            F.col(f"_sxy_{tag}"),
            F.col(f"_sxx_{tag}"),
            F.col(f"_syy_{tag}"),
        )
        # all-BIGINT numerators/variances, ONE double expression
        cov = (n * sxy - sx * sy).cast("double")
        vx = (n * sxx - sx * sx).cast("double")
        vy = (n * syy - sy * sy).cast("double")
        r = F.when(
            (vx > 0) & (vy > 0),
            cov / (F.sqrt(vx) * F.sqrt(vy)),
        )
        outs.append(
            F.struct(
                F.lit(cx).alias("col_x"),
                F.lit(cy).alias("col_y"),
                F.coalesce(n, F.lit(0)).cast("long").alias("n_pairs"),
                (fixed(r) / 1e6).alias("r"),
            )
        )
    return row.select(
        F.explode(F.array(*outs)).alias("_p")
    ).select("_p.*")


def cramers_v(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Cramér's V between two categorical columns (rows with a NULL
    on either side dropped). One row: ``col_a, col_b, n, n_a, n_b``
    (distinct levels), ``chi2, v`` (6 dp; ``v`` NULL when either
    side has a single level).

    χ² over the full r×c grid is computed from OBSERVED cells only
    via ``Σ_all (o−e)²/e = n + Σ_obs ((o−e)²/e − e)`` (unobserved
    cells contribute exactly their expectation, which sums to
    ``n − Σ_obs e``) — no dense grid materialization. Cell terms are
    1e-6 micro-unit BIGINTs before the sum (order-free)."""
    a, b = F.col(col_a), F.col(col_b)
    cells = (
        df.filter(a.isNotNull() & b.isNotNull())
        .groupBy(a.alias("_a"), b.alias("_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("_o"))
    )
    rt = cells.groupBy("_a").agg(F.sum("_o").cast("long").alias("_rt"))
    ct = cells.groupBy("_b").agg(F.sum("_o").cast("long").alias("_ct"))
    tot = cells.agg(
        F.sum("_o").cast("long").alias("_n"),
        F.countDistinct("_a").cast("long").alias("n_a"),
        F.countDistinct("_b").cast("long").alias("n_b"),
    )
    j = (
        cells.join(F.broadcast(rt), "_a")
        .join(F.broadcast(ct), "_b")
        .crossJoin(F.broadcast(tot))
    )
    o = F.col("_o").cast("double")
    e = (
        F.col("_rt").cast("double")
        * F.col("_ct").cast("double")
        / F.col("_n").cast("double")
    )
    term_u = fixed((o - e) * (o - e) / e - e)
    agg = j.groupBy("_n", "n_a", "n_b").agg(
        F.sum(term_u).cast("long").alias("_sum_u")
    )
    chi2 = F.col("_n").cast("double") + F.col("_sum_u") / 1e6
    mindim = F.least(F.col("n_a"), F.col("n_b")) - 1
    v = F.when(
        mindim >= 1,
        F.sqrt(chi2 / (F.col("_n").cast("double") * mindim.cast("double"))),
    )
    return agg.select(
        F.lit(col_a).alias("col_a"),
        F.lit(col_b).alias("col_b"),
        F.col("_n").alias("n"),
        "n_a",
        "n_b",
        (fixed(chi2) / 1e6).alias("chi2"),
        (fixed(v) / 1e6).alias("v"),
    )


# --- DuckDB twins -----------------------------------------------------

def oracle_pearson_sql(rel_sql: str, columns: Sequence[str]) -> str:
    """DuckDB twin of :func:`pearson_matrix` — identical BIGINT
    moments and fixed-order double formula, one UNION ALL branch per
    pair."""
    cols = sorted(columns)
    branches = []
    for i, cx in enumerate(cols):
        for cy in cols[i + 1:]:
            r = "cov / (sqrt(vx) * sqrt(vy))"
            branches.append(f"""
SELECT '{cx}' AS col_x, '{cy}' AS col_y,
       CAST(coalesce(n, 0) AS BIGINT) AS n_pairs,
       CASE WHEN vx > 0 AND vy > 0
            THEN {fixed_sql(r)} / 1000000.0 END AS r
FROM (
  SELECT n, sx, sy,
         (n * sxy - sx * sy)::DOUBLE AS cov,
         (n * sxx - sx * sx)::DOUBLE AS vx,
         (n * syy - sy * sy)::DOUBLE AS vy
  FROM (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * y) AS BIGINT) AS sxy,
           CAST(sum(x * x) AS BIGINT) AS sxx,
           CAST(sum(y * y) AS BIGINT) AS syy
    FROM (
      SELECT CAST("{cx}" AS BIGINT) AS x, CAST("{cy}" AS BIGINT) AS y
      FROM {rel_sql}
      WHERE "{cx}" IS NOT NULL AND "{cy}" IS NOT NULL
    )
  )
)""")
    return "\nUNION ALL\n".join(branches)


def oracle_cramers_sql(rel_sql: str, col_a: str, col_b: str) -> str:
    """DuckDB twin of :func:`cramers_v`."""
    # fully parenthesized: this fragment is interpolated after "/"
    # and "-" below, where an unwrapped a*b/c would re-associate
    e = "((rt)::DOUBLE * (ct)::DOUBLE / (n)::DOUBLE)"
    term = f"((o)::DOUBLE - {e}) * ((o)::DOUBLE - {e}) / {e} - {e}"
    chi2 = "(n)::DOUBLE + sum_u / 1000000.0"
    v = f"sqrt(({chi2}) / ((n)::DOUBLE * (least(n_a, n_b) - 1)::DOUBLE))"
    return f"""
WITH cells AS (
  SELECT "{col_a}" AS a, "{col_b}" AS b,
         CAST(count(*) AS BIGINT) AS o
  FROM {rel_sql}
  WHERE "{col_a}" IS NOT NULL AND "{col_b}" IS NOT NULL
  GROUP BY a, b
),
rt AS (SELECT a, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY a),
ct AS (SELECT b, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY b),
tot AS (
  SELECT CAST(sum(o) AS BIGINT) AS n,
         CAST(count(DISTINCT a) AS BIGINT) AS n_a,
         CAST(count(DISTINCT b) AS BIGINT) AS n_b
  FROM cells
),
summed AS (
  SELECT n, n_a, n_b,
         CAST(sum({fixed_sql(term)}) AS BIGINT) AS sum_u
  FROM cells
  JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN tot
  GROUP BY n, n_a, n_b
)
SELECT '{col_a}' AS col_a, '{col_b}' AS col_b, n, n_a, n_b,
       {fixed_sql(chi2)} / 1000000.0 AS chi2,
       CASE WHEN least(n_a, n_b) >= 2
            THEN {fixed_sql(v)} / 1000000.0 END AS v
FROM summed
"""


def cohens_kappa(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Cohen's κ agreement between two categorical "rater" columns —
    the standard check that two quality gates (a heuristic battery
    vs a trained classifier, or two classifier generations) agree
    beyond chance before one replaces the other in the pipeline.
    Rows with a NULL on either side are dropped.

    One row: ``col_a, col_b, n, po, pe, kappa`` (6 dp; ``kappa``
    NULL when chance agreement is 1, i.e. both columns constant).

    Exactness: ``po = d/n`` and ``pe = s/n²`` with ``d`` (diagonal
    count) and ``s = Σ_level rt·ct`` exact BIGINTs, so
    ``κ = (d·n − s) / (n² − s)`` is ONE BIGINT-ratio double division
    before micro-rounding. Shape: one bounded contingency hash-agg,
    level-keyed broadcast joins on the tiny marginal tables.
    """
    a, b = F.col(col_a), F.col(col_b)
    cells = (
        df.filter(a.isNotNull() & b.isNotNull())
        .groupBy(a.alias("_a"), b.alias("_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("_o"))
    )
    rt = cells.groupBy(F.col("_a").alias("_lvl")).agg(
        F.sum("_o").cast("long").alias("_rt")
    )
    ct = cells.groupBy(F.col("_b").alias("_lvl")).agg(
        F.sum("_o").cast("long").alias("_ct")
    )
    n_row = cells.agg(F.sum("_o").cast("long").alias("_n"))
    d_row = cells.filter(F.col("_a") == F.col("_b")).agg(
        F.coalesce(F.sum("_o"), F.lit(0)).cast("long").alias("_d")
    )
    s_row = (
        rt.join(ct, "_lvl")
        .agg(
            F.coalesce(F.sum(F.col("_rt") * F.col("_ct")), F.lit(0))
            .cast("long")
            .alias("_s")
        )
    )
    j = n_row.crossJoin(d_row).crossJoin(s_row)
    n, d, s = F.col("_n"), F.col("_d"), F.col("_s")
    po = d.cast("double") / n.cast("double")
    pe = s.cast("double") / (n * n).cast("double")
    kappa = F.when(
        n * n - s > 0,
        (d * n - s).cast("double") / (n * n - s).cast("double"),
    )
    return j.select(
        F.lit(col_a).alias("col_a"),
        F.lit(col_b).alias("col_b"),
        n.alias("n"),
        (fixed(po) / 1e6).alias("po"),
        (fixed(pe) / 1e6).alias("pe"),
        (fixed(kappa) / 1e6).alias("kappa"),
    )


def oracle_kappa_sql(rel_sql: str, col_a: str, col_b: str) -> str:
    """DuckDB twin of :func:`cohens_kappa`."""
    return f"""
WITH cells AS (
  SELECT "{col_a}" AS a, "{col_b}" AS b,
         CAST(count(*) AS BIGINT) AS o
  FROM {rel_sql}
  WHERE "{col_a}" IS NOT NULL AND "{col_b}" IS NOT NULL
  GROUP BY a, b
),
rt AS (SELECT a AS lvl, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY a),
ct AS (SELECT b AS lvl, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY b),
parts AS (
  SELECT (SELECT CAST(sum(o) AS BIGINT) FROM cells) AS n,
         (SELECT CAST(coalesce(sum(o), 0) AS BIGINT)
          FROM cells WHERE a = b) AS d,
         (SELECT CAST(coalesce(sum(rt * ct), 0) AS BIGINT)
          FROM rt JOIN ct USING (lvl)) AS s
)
SELECT '{col_a}' AS col_a, '{col_b}' AS col_b, n,
       {fixed_sql('(d)::DOUBLE / (n)::DOUBLE')} / 1000000.0 AS po,
       {fixed_sql('(s)::DOUBLE / (n * n)::DOUBLE')} / 1000000.0 AS pe,
       CASE WHEN n * n - s > 0 THEN
         {fixed_sql('(d * n - s)::DOUBLE / (n * n - s)::DOUBLE')}
           / 1000000.0
       END AS kappa
FROM parts
"""


def theils_u(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Theil's uncertainty coefficient between two categoricals —
    the ASYMMETRIC member of the association family: ``U(a|b) =
    (H(a) − H(a|b)) / H(a)`` answers "how much of a's uncertainty
    does knowing b remove?", which :func:`cramers_v` (symmetric)
    cannot — e.g. source→lang can be near 1 while lang→source stays
    near 0. Rows with a NULL on either side dropped.

    One row: ``col_a, col_b, n, h_a, h_b`` (entropies, nats),
    ``u_a_given_b, u_b_given_a`` (6 dp; NULL when the conditioned
    entropy is 0 — a constant column has no uncertainty to remove).

    Shape: the bounded contingency hash-agg plus marginal joins
    (cramers_v's plan); every entropy is a micro-unit BIGINT sum
    (order-free), each U one double ratio.
    """
    a, b = F.col(col_a), F.col(col_b)
    cells = (
        df.filter(a.isNotNull() & b.isNotNull())
        .groupBy(a.alias("_a"), b.alias("_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("_o"))
    )
    rt = cells.groupBy("_a").agg(F.sum("_o").cast("long").alias("_rt"))
    ct = cells.groupBy("_b").agg(F.sum("_o").cast("long").alias("_ct"))
    tot = cells.agg(F.sum("_o").cast("long").alias("_n"))
    nd = F.col("_n").cast("double")

    def ent_u(cnt: Column) -> Column:
        p = cnt.cast("double") / nd
        return fixed_abs(-(p * F.log(p)))

    h_a = (
        rt.crossJoin(F.broadcast(tot))
        .agg(F.sum(ent_u(F.col("_rt"))).cast("long").alias("_ha_u"))
    )
    h_b = (
        ct.crossJoin(F.broadcast(tot))
        .agg(F.sum(ent_u(F.col("_ct"))).cast("long").alias("_hb_u"))
    )
    # H(a|b) = -Σ_cells (o/n)·ln(o/ct);  H(b|a) symmetric
    j = (
        cells.join(F.broadcast(rt), "_a")
        .join(F.broadcast(ct), "_b")
        .crossJoin(F.broadcast(tot))
    )
    o = F.col("_o").cast("double")

    def cond_u(margin: Column) -> Column:
        return fixed_abs(-(o / nd * F.log(o / margin.cast("double"))))

    conds = j.agg(
        F.sum(cond_u(F.col("_ct"))).cast("long").alias("_hab_u"),
        F.sum(cond_u(F.col("_rt"))).cast("long").alias("_hba_u"),
    )
    out = (
        tot.crossJoin(F.broadcast(h_a))
        .crossJoin(F.broadcast(h_b))
        .crossJoin(F.broadcast(conds))
    )

    def u(h_u: Column, cond: Column) -> Column:
        val = F.when(
            h_u > 0, (h_u - cond).cast("double") / h_u.cast("double")
        )
        return fixed(val) / 1e6

    return out.select(
        F.lit(col_a).alias("col_a"),
        F.lit(col_b).alias("col_b"),
        F.col("_n").alias("n"),
        (F.col("_ha_u") / 1e6).alias("h_a"),
        (F.col("_hb_u") / 1e6).alias("h_b"),
        u(F.col("_ha_u"), F.col("_hab_u")).alias("u_a_given_b"),
        u(F.col("_hb_u"), F.col("_hba_u")).alias("u_b_given_a"),
    )


def oracle_theils_u_sql(rel_sql: str, col_a: str, col_b: str) -> str:
    """DuckDB twin of :func:`theils_u`."""

    def ent(cnt: str) -> str:
        p = f"(({cnt})::DOUBLE / (n)::DOUBLE)"
        return fixed_abs_sql(f"-({p} * ln({p}))")

    def cond(margin: str) -> str:
        return fixed_abs_sql(
            f"(-((o)::DOUBLE / (n)::DOUBLE"
            f" * ln((o)::DOUBLE / ({margin})::DOUBLE)))"
        )

    def u(h: str, c: str) -> str:
        val = f"(({h} - {c})::DOUBLE / ({h})::DOUBLE)"
        return f"CASE WHEN {h} > 0 THEN {fixed_sql(val)} / 1000000.0 END"

    return f"""
WITH cells AS (
  SELECT "{col_a}" AS a, "{col_b}" AS b,
         CAST(count(*) AS BIGINT) AS o
  FROM {rel_sql}
  WHERE "{col_a}" IS NOT NULL AND "{col_b}" IS NOT NULL
  GROUP BY a, b
),
rt AS (SELECT a, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY a),
ct AS (SELECT b, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY b),
tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
parts AS (
  SELECT
    (SELECT n FROM tot) AS n,
    (SELECT CAST(sum({ent('rt')}) AS BIGINT) FROM rt, tot) AS ha_u,
    (SELECT CAST(sum({ent('ct')}) AS BIGINT) FROM ct, tot) AS hb_u,
    (SELECT CAST(sum({cond('ct')}) AS BIGINT)
     FROM cells JOIN rt USING (a) JOIN ct USING (b), tot) AS hab_u,
    (SELECT CAST(sum({cond('rt')}) AS BIGINT)
     FROM cells JOIN rt USING (a) JOIN ct USING (b), tot) AS hba_u
)
SELECT '{col_a}' AS col_a, '{col_b}' AS col_b, n,
       ha_u / 1000000.0 AS h_a,
       hb_u / 1000000.0 AS h_b,
       {u('ha_u', 'hab_u')} AS u_a_given_b,
       {u('hb_u', 'hba_u')} AS u_b_given_a
FROM parts
"""


def spearman(
    df: DataFrame, col_x: str, col_y: str
) -> DataFrame:
    """Spearman rank correlation between two integer-valued columns
    (pairwise-complete rows), the monotone-association complement to
    :func:`pearson_matrix`: a quality score that *ranks* documents
    the same way as a reference signal scores ρ ≈ 1 even when the
    relationship is non-linear — the right agreement check before
    swapping one gate's threshold semantics for another's. Ties get
    average ranks (the exact tie-corrected statistic, not the Σd²
    shortcut, which is wrong under ties).

    One row: ``col_x, col_y, n, rho`` (6 dp; NULL when either side
    is constant).

    Execution shape, 100 TB lens: three column-pruned corpus
    hash-aggs (per-x counts, per-y counts, (x, y) cells — map-side
    partials absorb everything; the cell table is bounded by the
    product of distinct values, small by contract for quantized /
    categorical-ordinal features). Average ranks come from a
    cumulative count over the BOUNDED per-value tables (single
    partition over distinct values — never over the corpus), which
    then broadcast-join back onto the cell table. No corpus-wide
    sort, no per-row rank window.

    Exactness: double-ranks ``dr = 2·cum_less + cnt + 1`` (twice the
    average rank — integer even under ties) are centered by the
    exact constant ``n+1`` (Σdr = n(n+1)), so
    ``ρ = Σc·ex·ey / √(Σc·ex² · Σc·ey²)`` needs no mean-subtraction
    products; the three sums accumulate in decimal(38,0) ↔ DuckDB
    HUGEINT (exact, order-free) with envelope ``n³ < 10³⁸``
    (n ≤ 4·10¹²), then ONE fixed-order double expression,
    micro-rounded. Float features: pre-scale to integer units
    (module discipline, see :func:`pearson_matrix`).
    """
    from pyspark.sql.window import Window

    x, y = F.col(col_x), F.col(col_y)
    rows = df.filter(x.isNotNull() & y.isNotNull()).select(
        x.cast("long").alias("_x"), y.cast("long").alias("_y")
    )
    n_row = rows.agg(F.count(F.lit(1)).cast("long").alias("_n"))

    def _ranks(col: str, out: str) -> DataFrame:
        cnt = rows.groupBy(F.col(col).alias("_v")).agg(
            F.count(F.lit(1)).cast("long").alias("_c")
        )
        w = (
            Window.orderBy("_v")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        cum = F.coalesce(F.sum("_c").over(w), F.lit(0)).cast("long")
        return cnt.select(
            F.col("_v").alias(col),
            (2 * cum + F.col("_c") + 1).cast("long").alias(out),
        )

    cells = rows.groupBy("_x", "_y").agg(
        F.count(F.lit(1)).cast("long").alias("_cxy")
    )
    j = (
        cells.join(F.broadcast(_ranks("_x", "_drx")), "_x")
        .join(F.broadcast(_ranks("_y", "_dry")), "_y")
        .crossJoin(F.broadcast(n_row))
    )
    dec = "decimal(18,0)"
    ex = (F.col("_drx") - (F.col("_n") + 1)).cast(dec)
    ey = (F.col("_dry") - (F.col("_n") + 1)).cast(dec)
    c = F.col("_cxy").cast(dec)
    agg = j.agg(
        F.first("_n").alias("_n2"),
        F.sum(c * ex * ey).alias("_sxy"),
        F.sum(c * ex * ex).alias("_sxx"),
        F.sum(c * ey * ey).alias("_syy"),
    )
    sxy = F.col("_sxy").cast("double")
    sxx = F.col("_sxx").cast("double")
    syy = F.col("_syy").cast("double")
    rho = F.when(
        (F.col("_sxx") > 0) & (F.col("_syy") > 0),
        sxy / (F.sqrt(sxx) * F.sqrt(syy)),
    )
    return agg.select(
        F.lit(col_x).alias("col_x"),
        F.lit(col_y).alias("col_y"),
        F.col("_n2").alias("n"),
        (fixed(rho) / 1e6).alias("rho"),
    )


def oracle_spearman_sql(rel_sql: str, col_x: str, col_y: str) -> str:
    """DuckDB twin of :func:`spearman` — identical double-rank
    construction, HUGEINT ↔ decimal(38,0) exact sums, same
    fixed-order final expression."""
    rho = "(sxy)::DOUBLE / (sqrt((sxx)::DOUBLE) * sqrt((syy)::DOUBLE))"
    return f"""
WITH rows_ AS (
  SELECT CAST("{col_x}" AS BIGINT) AS x, CAST("{col_y}" AS BIGINT) AS y
  FROM {rel_sql}
  WHERE "{col_x}" IS NOT NULL AND "{col_y}" IS NOT NULL
),
n_ AS (SELECT CAST(count(*) AS BIGINT) AS n FROM rows_),
rx AS (
  SELECT v, CAST(2 * coalesce(sum(c) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         + c + 1 AS BIGINT) AS drx
  FROM (SELECT x AS v, CAST(count(*) AS BIGINT) AS c
        FROM rows_ GROUP BY x)
),
ry AS (
  SELECT v, CAST(2 * coalesce(sum(c) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         + c + 1 AS BIGINT) AS dry
  FROM (SELECT y AS v, CAST(count(*) AS BIGINT) AS c
        FROM rows_ GROUP BY y)
),
cells AS (
  SELECT x, y, CAST(count(*) AS BIGINT) AS cxy
  FROM rows_ GROUP BY x, y
),
s AS (
  SELECT max(n) AS n,
         sum(CAST(cxy AS HUGEINT) * (drx - (n + 1)) * (dry - (n + 1)))
           AS sxy,
         sum(CAST(cxy AS HUGEINT) * (drx - (n + 1)) * (drx - (n + 1)))
           AS sxx,
         sum(CAST(cxy AS HUGEINT) * (dry - (n + 1)) * (dry - (n + 1)))
           AS syy
  FROM cells
  JOIN rx ON cells.x = rx.v
  JOIN ry ON cells.y = ry.v
  CROSS JOIN n_
)
SELECT '{col_x}' AS col_x, '{col_y}' AS col_y, n,
       CASE WHEN sxx > 0 AND syy > 0
            THEN {fixed_sql(rho)} / 1000000.0 END AS rho
FROM s
"""
