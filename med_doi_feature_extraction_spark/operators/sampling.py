"""Deterministic hash-based sampling for corpus curation.

Reproducible sampling is a first-class corpus operation: language
rebalancing (down-sample the head language before training),
held-out split carving, and debug subsets must give the SAME rows on
every run, on any cluster size, with no RNG state — so membership is
a pure function of the row key:

    u(key) = int(sha256(key || "|" || salt)[:8 hex]) / 2^32  ∈ [0,1)
    keep ⇔ u(key) < rate

sha256 (not murmur/xxhash) because the exact bit pattern is
reproducible in ANY engine — the DuckDB oracle runs the identical
expression, which is what makes these operators hash-for-hash
checkable. Per-row cost is one short sha2 over the key (not the
payload); it rides the scan stage, needs no shuffle, and is
partitioning-independent — the scale-safe property that
``df.sample()`` (seed × partition-layout dependent) does not give.

Salting: different ``salt`` values give independent samples; a fixed
salt makes the sample stable across reruns and appends (new rows
join the sample iff their key hashes in — exactly the semantics a
resumable 10^12-doc ingest needs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from med_doi_feature_extraction_spark.kernels.fixed import fixed, fixed_sql

_U32 = float(2**32)


def hash_uniform(key_col: str | F.Column, salt: str = "") -> F.Column:
    """Deterministic uniform [0,1) from a row key (see module doc).

    NULL keys hash as the empty string rather than propagating NULL:
    a NULL-valued uniform would make ``filter(u < rate)`` silently
    drop null-keyed rows even at rate 1.0 while the split operator
    kept them — all operators here must agree on every row, so null
    keys get one deterministic (shared) hash value instead."""
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    tagged = F.concat(
        F.coalesce(key.cast("string"), F.lit("")), F.lit("|" + salt)
    )
    bucket = F.conv(F.substring(F.sha2(tagged, 256), 1, 8), 16, 10)
    return bucket.cast("double") / F.lit(_U32)


def hash_sample(
    df: DataFrame, key_col: str, rate: float, salt: str = ""
) -> DataFrame:
    """Keep rows whose key hashes under ``rate``. Deterministic,
    layout-independent, append-stable."""
    return df.filter(hash_uniform(key_col, salt) < F.lit(rate))


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Per-stratum sampling rates (e.g. language rebalancing:
    ``{"en": 0.3, "de": 1.0}``). Strata absent from ``rates`` get
    ``default_rate``. The rate map is a plan-time literal — no join,
    no shuffle; the filter rides the scan."""
    rate = F.lit(float(default_rate))
    for value, r in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == value, F.lit(float(r))).otherwise(
            rate
        )
    return df.filter(hash_uniform(key_col, salt) < rate)


def train_eval_split(
    df: DataFrame,
    key_col: str,
    eval_frac: float = 0.01,
    salt: str = "split",
) -> DataFrame:
    """Add a ``split`` column ("eval" under ``eval_frac``, else
    "train"). Same key ⇒ same side, forever and on every engine —
    the property that keeps a held-out set leak-free across
    incremental corpus builds."""
    return df.withColumn(
        "split",
        F.when(
            hash_uniform(key_col, salt) < F.lit(eval_frac), F.lit("eval")
        ).otherwise(F.lit("train")),
    )


def weighted_sample(
    df: DataFrame, key_col: str, weight: str | F.Column, salt: str = ""
) -> DataFrame:
    """Keep each row with probability ``clamp(weight, 0, 1)`` — the
    quality-weighted retention used in corpus curation (keep all
    high-quality docs, thin the low-quality tail proportionally,
    e.g. ``weight = quality_score`` or a per-bucket curriculum
    weight). Same engine-portable sha256 uniform as
    :func:`hash_sample`, so membership is a pure function of
    (key, salt, weight): deterministic, append-stable, and
    hash-checkable in the DuckDB oracle. NULL weights drop the row
    (NULL < u is never true) — quality-unknown is not quality-high."""
    w = F.col(weight) if isinstance(weight, str) else weight
    w = F.least(F.greatest(w.cast("double"), F.lit(0.0)), F.lit(1.0))
    return df.filter(hash_uniform(key_col, salt) < w)


def group_cap(
    df: DataFrame,
    group_col: str | F.Column,
    key_col: str,
    cap: int,
    salt: str = "",
) -> DataFrame:
    """Per-group document quota: keep at most ``cap`` rows per group,
    chosen by deterministic hash order (NOT input order — layout
    independence again). The canonical use is per-domain caps
    (RefinedWeb-style: no domain may dominate the corpus), with
    ``group_col = url_domain(...)``.

    One exchange on the group key + per-group sort for the
    ``row_number``; groups are domain-sized so the sort is bounded.
    For a pathological mega-group the rank window inherits the same
    skew story as every keyed window here: AQE splits the sort-merge
    stages, and the cap itself means only ``cap`` rows survive the
    group. Ties beyond the hash are broken by the key itself so the
    survivor set is total-order-stable."""
    from pyspark.sql import Window

    g = F.col(group_col) if isinstance(group_col, str) else group_col
    u = hash_uniform(key_col, salt)
    w = Window.partitionBy(g).orderBy(u, F.col(key_col))
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= cap)
        .drop("_rk")
    )


def group_kfold(
    df: DataFrame,
    group_col: str | F.Column,
    k: int,
    salt: str = "fold",
    out: str = "fold",
) -> DataFrame:
    """Group-aware k-fold assignment: ``fold = H(group) % k`` — every
    row of a group lands in the SAME fold (sklearn GroupKFold
    semantics, hash-partitioned instead of count-balanced).

    This is the leakage-safe eval split for web corpora: splitting by
    doc id puts near-identical pages from one domain on both sides of
    the fold boundary, and the held-out score measures memorization
    of the domain's template rather than generalization — so the
    group key should be the leakage unit (``url_domain``, dedup
    ``cluster_id``, author id). Pure scan-stage Column algebra on the
    engine-portable sha256 (no shuffle, no state, append-stable);
    fold sizes are multinomial around n/k rather than exactly equal —
    the price of never having to look at two rows at once, which is
    what makes it work on 10^12 rows and on incremental appends.

    NULL groups share one deterministic fold (coalesce to "", same
    rationale as :func:`hash_uniform`)."""
    if k < 2:
        raise ValueError("k must be >= 2")
    g = F.col(group_col) if isinstance(group_col, str) else group_col
    tagged = F.concat(
        F.coalesce(g.cast("string"), F.lit("")), F.lit("|" + salt)
    )
    bucket = F.conv(F.substring(F.sha2(tagged, 256), 1, 8), 16, 10)
    return df.withColumn(out, F.pmod(bucket.cast("long"), F.lit(k)))


def oracle_kfold_sql(group_expr: str, k: int, salt: str = "fold") -> str:
    """DuckDB twin of :func:`group_kfold`'s fold expression."""
    return (
        f"CAST(('0x' || substr(sha256(coalesce({group_expr}, '') || '|{salt}'), 1, 8))"
        f"::UBIGINT % {k} AS BIGINT)"
    )


def oracle_uniform_sql(key_expr: str, salt: str = "") -> str:
    """The DuckDB expression computing the same uniform — kept next
    to the Spark implementation so the two can't drift."""
    return (
        f"CAST(('0x' || substr(sha256(coalesce({key_expr}, '') || '|{salt}'), 1, 8))"
        f"::UBIGINT AS DOUBLE) / 4294967296.0"
    )


def mixture_rates(
    df: DataFrame,
    group_col: str,
    tokens_col: str | F.Column,
    budgets: dict[str, int],
) -> DataFrame:
    """(group, avail_tokens, budget_tokens, rate): per-group
    acceptance rate ``min(1, budget/available)`` that hits a target
    token MIXTURE in expectation — the data-mixing step of a
    pre-training build ("200 B tokens of en, 50 B of de, …" over
    whatever the crawl actually contains). Unlike
    :func:`stratified_sample`'s literal rates, these are
    DATA-DEPENDENT: one hash-agg over the corpus (groups are
    languages/domains — a bounded table), budgets attached as a
    plan-time literal map. Groups absent from ``budgets`` rate 0 —
    an explicit mixture keeps nothing it doesn't name. Rates are an
    exact double division, so the DuckDB twin reproduces them
    bit-for-bit; NOTE rates shift when the corpus grows (that is
    their point), so append-stability holds per-(corpus snapshot),
    not globally — pin ``mixture_rates`` output alongside the
    manifest when resumability matters."""
    toks = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    avail = df.groupBy(F.col(group_col).alias("group")).agg(
        F.sum(toks.cast("long")).alias("avail_tokens")
    )
    budget = F.lit(None).cast("long")
    for value, b in sorted(budgets.items()):
        budget = F.when(F.col("group") == value, F.lit(int(b))).otherwise(
            budget
        )
    return avail.select(
        "group",
        "avail_tokens",
        F.coalesce(budget, F.lit(0)).alias("budget_tokens"),
        F.least(
            F.lit(1.0),
            F.col("budget_tokens").cast("double")
            / F.col("avail_tokens").cast("double"),
        ).alias("rate"),
    )


def token_budget_sample(
    df: DataFrame,
    key_col: str,
    group_col: str,
    tokens_col: str | F.Column,
    budgets: dict[str, int],
    salt: str = "mix",
) -> DataFrame:
    """Thin each group to its token budget: keep rows whose portable
    uniform falls under the group's :func:`mixture_rates` rate.
    Expected surviving tokens per group = min(budget, available).
    Plan: the rates table is group-cardinality (bounded) ⇒ BROADCAST
    join; the filter itself stays a scan-stage predicate — one
    corpus-wide agg (for rates) + one broadcast, zero corpus
    shuffles."""
    rates = mixture_rates(df, group_col, tokens_col, budgets).select(
        F.col("group").alias(group_col), "rate"
    )
    out = df.join(F.broadcast(rates), group_col, "left")
    return out.filter(
        hash_uniform(key_col, salt) < F.coalesce(F.col("rate"), F.lit(0.0))
    ).drop("rate")


def interleave_order(
    df: DataFrame,
    source_col: str,
    key_col: str,
    weights: dict[str, float],
    salt: str = "interleave",
    out: str = "interleave_key",
) -> DataFrame:
    """Deterministic proportional source interleave: attach a sort key
    such that ordering the union by ``(interleave_key, key)`` yields
    the sources mixed in the target ``weights`` proportions IN EVERY
    PREFIX — the training-order mixing step (T5 / GLaM style "sample
    sources at fixed rates"), computed as data, not as a sampler.

    Construction: the engine-portable uniform ``u(key)`` is (in
    expectation) the row's within-source quantile, so
    ``key = round(u · n_s / p_s, 6)`` places source ``s``'s rows at
    density ∝ ``p_s`` along the key axis (``p_s`` = normalized
    weight, ``n_s`` = source row count). A source over-weighted
    beyond its size simply EXHAUSTS partway through the order —
    the honest single-epoch semantics; re-cycling (multi-epoch
    oversampling) is the trainer's loop, not a corpus property.
    Sources absent from ``weights`` are dropped (an explicit mixture
    keeps nothing it doesn't name — same contract as
    :func:`token_budget_sample`).

    Scale shape: one bounded hash-agg for the per-source counts,
    broadcast back (source spaces are small), key arithmetic on the
    scan — zero corpus shuffles. The ORDER itself is never
    materialized globally: writers range-partition by the key and
    sort within partitions (``repartitionByRange(out).
    sortWithinPartitions(out)``), which is exactly the shard-local
    order a data loader consumes. 6 dp rounding keeps the key a sum
    of exact multiples, hash-comparable cross-engine."""
    total = float(sum(weights.values()))
    if total <= 0:
        raise ValueError("weights must sum to a positive value")
    counts = df.groupBy(F.col(source_col).alias("_src")).agg(
        F.count(F.lit(1)).alias("_n")
    )
    scale = F.lit(None).cast("double")
    for value, w in sorted(weights.items()):
        if w < 0:
            raise ValueError(f"negative weight for {value!r}")
        p = float(w) / total
        scale = F.when(
            F.col("_src") == value,
            F.lit(None).cast("double") if p == 0.0 else F.lit(1.0 / p),
        ).otherwise(scale)
    rates = counts.select("_src", (F.col("_n") * scale).alias("_np"))
    joined = df.join(
        F.broadcast(rates),
        df[source_col] == rates["_src"],
        "left",
    ).drop("_src")
    u = hash_uniform(key_col, salt)
    return (
        joined.filter(F.col("_np").isNotNull())
        .withColumn(out, F.round(u * F.col("_np"), 6))
        .drop("_np")
    )


def oracle_interleave_sql(
    source_sql: str,
    source_expr: str,
    key_expr: str,
    weights: dict[str, float],
    salt: str = "interleave",
) -> str:
    """DuckDB CTE ``ileave`` reproducing :func:`interleave_order`
    over ``source_sql`` (adds ``interleave_key`` to its columns)."""
    total = float(sum(weights.values()))
    u = oracle_uniform_sql(key_expr, salt)
    whens = " ".join(
        f"WHEN '{v}' THEN {1.0 / (w / total)!r}"
        for v, w in sorted(weights.items())
        if w > 0
    )
    return f"""
  icounts AS (
    SELECT {source_expr} AS _src, count(*) AS _n
    FROM {source_sql} GROUP BY 1
  ),
  ileave AS (
    SELECT s.*, round(({u}) * (c._n * (CASE c._src {whens} END)), 6)
             AS interleave_key
    FROM {source_sql} s JOIN icounts c ON {source_expr} = c._src
    WHERE (CASE c._src {whens} END) IS NOT NULL
  )"""


def top_fraction_per_group(
    df: DataFrame,
    group_col: str | F.Column,
    score_col: str,
    frac: float,
    key_col: str,
) -> DataFrame:
    """Adaptive per-group quality threshold: keep the best
    ``ceil(frac · n)`` rows of each group by ``score_col`` (FineWeb-
    style "top X% per language by classifier score" — a GLOBAL score
    cut over mixed languages just deletes the low-resource ones).

    Rank-based rather than percentile-threshold so the kept count per
    group is exact regardless of score ties; ties and layout are
    resolved by ``(score DESC, key ASC)`` — fully deterministic and
    append-order-independent given stable scores. NULL scores are
    never kept (a row with no score has no claim on the quality
    budget — drop explicitly upstream if that's not wanted).

    One exchange on the group key; both windows (rank + group size)
    share it. Same mega-group caveat as ``group_cap``.
    """
    if not 0.0 < frac <= 1.0:
        raise ValueError(f"frac must be in (0, 1], got {frac}")
    from pyspark.sql import Window

    g = F.col(group_col) if isinstance(group_col, str) else group_col
    w = Window.partitionBy(g).orderBy(
        F.col(score_col).desc(), F.col(key_col).asc()
    )
    wn = Window.partitionBy(g)
    return (
        df.filter(F.col(score_col).isNotNull())
        .withColumn("_rk", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(wn))
        .filter(F.col("_rk") <= F.ceil(F.lit(float(frac)) * F.col("_n")))
        .drop("_rk", "_n")
    )


def temperature_rates(
    df: DataFrame,
    group_col: str,
    alpha: float = 0.3,
    target_rows: int = 1_000_000,
) -> DataFrame:
    """Temperature-scaled source mixing (the T5/mT5 multilingual
    sampling rule, Raffel 2020 §3.4.3): sample probability
    ``q_s ∝ (n_s/N)^α`` — α<1 flattens the source distribution so
    head languages/domains stop drowning the tail without the tail
    being oversampled to repetition. α=1 is proportional, α=0
    uniform-over-groups.

    Returns ``(group, n_rows, q, rate)`` where ``rate = min(1,
    target_rows·q/n_s)`` is the per-group ACCEPTANCE rate whose
    expected surviving total is ``target_rows`` (groups the rule
    would oversample saturate at 1 — the honest exhaustion contract
    of ``interleave_order``). ``q`` and ``rate`` are round-6 gated so
    both engines commit to identical rates before any row is
    filtered on them.

    Shape: one corpus hash-agg to group sizes (bounded table), then
    1-row total + 1-row normalizer broadcast back — no corpus-sized
    work after the first agg. Unlike :func:`mixture_rates` (explicit
    per-group budgets) the mixture here is DERIVED from corpus
    composition, so rates shift as the corpus grows — pin the rates
    table beside the manifest when resuming.
    """
    sizes = df.groupBy(F.col(group_col).alias("group")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    total = sizes.agg(
        F.sum("n_rows").cast("double").alias("_nn")
    )
    with_p = sizes.crossJoin(F.broadcast(total)).withColumn(
        "_q_raw",
        F.pow(F.col("n_rows").cast("double") / F.col("_nn"), alpha),
    )
    z = with_p.agg(F.sum("_q_raw").alias("_z"))
    q = F.col("_q_raw") / F.col("_z")
    return (
        with_p.crossJoin(F.broadcast(z))
        .select(
            "group",
            "n_rows",
            F.round(q, 6).alias("q"),
            F.round(
                F.least(
                    F.lit(1.0),
                    F.lit(float(target_rows))
                    * q
                    / F.col("n_rows").cast("double"),
                ),
                6,
            ).alias("rate"),
        )
    )


def temperature_sample(
    df: DataFrame,
    key_col: str,
    group_col: str,
    alpha: float = 0.3,
    target_rows: int = 1_000_000,
    salt: str = "temp",
) -> DataFrame:
    """Materialize the temperature mixture: keep rows whose portable
    uniform falls under their group's :func:`temperature_rates` rate.
    Rates table is group-cardinality ⇒ BROADCAST join; the filter is
    a scan-stage predicate — one corpus agg + one broadcast, zero
    corpus shuffles. Deterministic per (key, salt): append-stable
    for a fixed rates table."""
    rates = temperature_rates(df, group_col, alpha, target_rows)
    return (
        df.join(
            F.broadcast(rates.select(F.col("group"), "rate")),
            df[group_col] == F.col("group"),
        )
        .where(hash_uniform(key_col, salt) < F.col("rate"))
        .drop("group", "rate")
    )


def cap_solver(
    df: DataFrame,
    group_cols: Sequence[str],
    budget: int,
) -> DataFrame:
    """Water-filling solver for :func:`group_cap`'s ``cap`` argument:
    the largest integer per-group level ``lam`` whose capped total
    ``f(lam) = Σ_g min(n_g, lam)`` fits the row ``budget`` — i.e.
    "what per-domain cap keeps as much diversity as possible while
    the corpus lands under B rows". Picking the cap by hand either
    wastes budget (too low) or blows it (too high); this computes it
    exactly from the group-size distribution.

    One output row: ``budget, n_groups, total_rows, lam,
    kept_rows`` (= f(lam)), ``n_capped_groups`` (groups larger than
    lam). Edge cases: ``total_rows ≤ budget`` → ``lam`` = the
    largest group size (no capping, kept = total); ``budget <
    n_groups`` → ``lam = floor(budget / n_groups)`` (0 allowed —
    the budget cannot give every group one row).

    Execution shape, 100 TB lens: ONE corpus hash-agg to per-group
    counts, ONE hash-agg to the distinct-size distribution (bounded
    by #distinct sizes), a cumulative window over that BOUNDED frame
    (single partition of ≤ a few hundred rows — never corpus), and a
    1-row argmax + closed-form refinement: ``f`` is piecewise-linear
    with slope = #groups above the level, so between breakpoints
    ``lam = s* + floor((B − f(s*)) / slope)``. All integer algebra —
    exact in both engines.
    """
    if budget < 0:
        raise ValueError("budget must be >= 0")
    counts = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    )
    sizes = counts.groupBy(F.col("_c").alias("_s")).agg(
        F.count(F.lit(1)).cast("long").alias("_m")
    )
    w = Window.orderBy("_s").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = sizes.select(
        "_s",
        "_m",
        F.sum(F.col("_s") * F.col("_m")).over(w).cast("long").alias(
            "_cum_rows_le"
        ),
        F.sum("_m").over(w).cast("long").alias("_cum_groups_le"),
    )
    tot = cum.agg(
        F.max("_cum_rows_le").alias("_total_rows"),
        F.max("_cum_groups_le").alias("_n_groups"),
        F.max("_s").alias("_max_s"),
    )
    b = F.lit(int(budget)).cast("long")
    j = cum.crossJoin(F.broadcast(tot))
    # f(s) = rows from groups of size <= s  +  s * (groups above s)
    above = (F.col("_n_groups") - F.col("_cum_groups_le")).cast(
        "long"
    )
    f_s = (F.col("_cum_rows_le") + F.col("_s") * above).cast("long")
    feasible = j.select(
        "_s",
        above.alias("_above"),
        f_s.alias("_f"),
        "_total_rows",
        "_n_groups",
        "_max_s",
    ).filter(F.col("_f") <= b)
    best = (
        feasible.orderBy(F.desc("_s"))
        .limit(1)
        .select(
            F.col("_s").alias("_s_star"),
            F.col("_above").alias("_above_star"),
            F.col("_f").alias("_f_star"),
            "_total_rows",
            "_n_groups",
            "_max_s",
        )
    )
    # no feasible breakpoint: lam below the smallest size
    fallback = tot.select(
        F.lit(None).cast("long").alias("_s_star"),
        F.col("_n_groups").alias("_above_star"),
        F.lit(0).cast("long").alias("_f_star"),
        "_total_rows",
        "_n_groups",
        "_max_s",
    )
    picked = best.unionByName(fallback).orderBy(
        F.desc_nulls_last("_s_star")
    ).limit(1)
    lam = F.when(
        F.col("_total_rows") <= b, F.col("_max_s")
    ).otherwise(
        F.coalesce(F.col("_s_star"), F.lit(0))
        + F.floor(
            (b - F.col("_f_star")).cast("double")
            / F.col("_above_star").cast("double")
        ).cast("long")
    )
    picked = picked.withColumn("_lam", lam)
    kept = F.when(
        F.col("_total_rows") <= b, F.col("_total_rows")
    ).otherwise(
        F.col("_f_star")
        + (F.col("_lam") - F.coalesce(F.col("_s_star"), F.lit(0)))
        * F.col("_above_star")
    )
    n_capped = F.when(F.col("_total_rows") <= b, F.lit(0)).otherwise(
        F.col("_above_star")
    )
    return picked.select(
        b.alias("budget"),
        F.col("_n_groups").alias("n_groups"),
        F.col("_total_rows").alias("total_rows"),
        F.col("_lam").cast("long").alias("lam"),
        kept.cast("long").alias("kept_rows"),
        n_capped.cast("long").alias("n_capped_groups"),
    )


def oracle_cap_solver_sql(
    rel_sql: str, group_cols: Sequence[str], budget: int
) -> str:
    """DuckDB twin of :func:`cap_solver` — identical breakpoint table
    and closed-form refinement."""
    groups = ", ".join(f'"{c}"' for c in group_cols)
    b = int(budget)
    return f"""
WITH counts AS (
  SELECT {groups}, CAST(count(*) AS BIGINT) AS c
  FROM {rel_sql} GROUP BY {groups}
),
sizes AS (
  SELECT c AS s, CAST(count(*) AS BIGINT) AS m
  FROM counts GROUP BY c
),
cum AS (
  SELECT s, m,
         CAST(sum(s * m) OVER (ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum_rows_le,
         CAST(sum(m) OVER (ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum_groups_le
  FROM sizes
),
tot AS (
  SELECT max(cum_rows_le) AS total_rows,
         max(cum_groups_le) AS n_groups,
         max(s) AS max_s
  FROM cum
),
feas AS (
  SELECT s, (n_groups - cum_groups_le) AS above,
         (cum_rows_le + s * (n_groups - cum_groups_le)) AS f
  FROM cum CROSS JOIN tot
  WHERE cum_rows_le + s * (n_groups - cum_groups_le) <= {b}
),
best AS (
  SELECT * FROM feas ORDER BY s DESC LIMIT 1
),
picked AS (
  SELECT coalesce(b.s, NULL) AS s_star,
         coalesce(b.above, t.n_groups) AS above_star,
         coalesce(b.f, 0) AS f_star,
         t.total_rows, t.n_groups, t.max_s
  FROM tot t LEFT JOIN best b ON true
),
lamd AS (
  SELECT *,
         CASE WHEN total_rows <= {b} THEN max_s
              ELSE coalesce(s_star, 0)
                   + CAST(floor(({b} - f_star)::DOUBLE
                                / (above_star)::DOUBLE) AS BIGINT)
         END AS lam
  FROM picked
)
SELECT CAST({b} AS BIGINT) AS budget,
       CAST(n_groups AS BIGINT) AS n_groups,
       CAST(total_rows AS BIGINT) AS total_rows,
       CAST(lam AS BIGINT) AS lam,
       CAST(CASE WHEN total_rows <= {b} THEN total_rows
                 ELSE f_star + (lam - coalesce(s_star, 0)) * above_star
            END AS BIGINT) AS kept_rows,
       CAST(CASE WHEN total_rows <= {b} THEN 0 ELSE above_star END
            AS BIGINT) AS n_capped_groups
FROM lamd
"""


def neyman_allocation(
    df: DataFrame,
    stratum_cols: Sequence[str],
    val_col: str,
    budget: int,
    val_scale: int = 1000,
) -> DataFrame:
    """Neyman-optimal stratified sample sizes: split a row ``budget``
    across strata ∝ ``n_h·σ_h`` (stratum size × within-stratum
    standard deviation) — the allocation that minimizes the variance
    of the stratified mean estimator at fixed budget. Uniform and
    proportional allocation waste budget on strata that are large
    but homogeneous; Neyman spends it where the variance lives
    (profile samples, eval-set construction, label-budget planning).

    One row per stratum: ``*stratum_cols, n_rows, sigma`` (6 dp),
    ``weight`` (n·σ micro-units, the allocation numerator),
    ``n_alloc`` — integer sizes that (a) sum to ``min(budget,
    total_rows)`` exactly, (b) never exceed the stratum's own
    ``n_rows`` (overflow re-flows to the remaining strata by the
    same rule), (c) are deterministic (largest-remainder rounding,
    ties broken by stratum key order). All-constant strata (σ = 0)
    get allocation only from re-flow of leftovers, last.

    Execution shape, 100 TB lens: ONE corpus hash-agg of exact
    BIGINT moments per stratum (the ``spearman``/``trend`` envelope
    discipline: values quantized to ``val_scale``-ths, needs
    ``n·max|y·scale|² < 2⁶³``); everything after runs on the
    BOUNDED stratum table (strata are categorical by construction) —
    windows over it are single-partition of ≤ thousands of rows,
    never the corpus. The iterative cap-re-flow is bounded by
    construction to ≤ 2 passes here (one re-flow, then clamp) — the
    residual after one re-flow is spilled deterministically to the
    largest-remaining-capacity strata; exactness of the total is
    pytest-pinned.
    """
    if budget < 0:
        raise ValueError("budget must be >= 0")
    y = fixed(F.col(val_col).cast("double"), val_scale)
    rows = df.filter(F.col(val_col).isNotNull()).select(
        *stratum_cols, y.alias("_y")
    )
    agg = rows.groupBy(*stratum_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("_y").cast("long").alias("_sy"),
        F.sum(F.col("_y") * F.col("_y")).cast("long").alias("_syy"),
    )
    n = F.col("n_rows")
    var = (n * F.col("_syy") - F.col("_sy") * F.col("_sy")).cast(
        "double"
    ) / (n * n).cast("double") / F.lit(float(val_scale) ** 2)
    sigma = F.sqrt(var)
    sigma_u = F.floor(sigma * F.lit(1e6) + F.lit(0.5)).cast("long")
    weight = (n * sigma_u).cast("long")
    strata = agg.select(
        *stratum_cols,
        "n_rows",
        (sigma_u / 1e6).alias("sigma"),
        weight.alias("weight"),
    )
    tot = strata.agg(
        F.sum("weight").cast("long").alias("_tw"),
        F.sum("n_rows").cast("long").alias("_tn"),
    )
    b = F.lit(int(budget)).cast("long")
    j = strata.crossJoin(F.broadcast(tot)).withColumn(
        "_b_eff", F.least(b, F.col("_tn"))
    )
    # ideal share in micro-units of rows; zero-weight strata get 0
    ideal = F.when(
        F.col("_tw") > 0,
        F.col("_b_eff").cast("double")
        * F.col("weight").cast("double")
        / F.col("_tw").cast("double"),
    ).otherwise(
        # all-sigma-zero corpus: proportional fallback
        F.col("_b_eff").cast("double")
        * F.col("n_rows").cast("double")
        / F.col("_tn").cast("double")
    )
    base = F.least(F.floor(ideal).cast("long"), F.col("n_rows"))
    rem = ideal - F.floor(ideal)
    j = j.withColumn("_base", base).withColumn(
        "_rem",
        F.when(F.col("_base") < F.col("n_rows"), rem).otherwise(
            F.lit(-1.0)
        ),
    )
    # largest-remainder top-up: rank strata by remainder (capped
    # strata excluded via -1), deterministic tiebreak on the key
    wr = Window.orderBy(
        F.desc("_rem"), *[F.col(c).asc() for c in stratum_cols]
    )
    j = j.withColumn("_rk", F.row_number().over(wr))
    deficit_row = j.agg(
        (F.first("_b_eff") - F.sum("_base")).cast("long").alias("_d")
    )
    j = j.crossJoin(F.broadcast(deficit_row))
    # one unit to the _d highest remainders (capacity-checked), then
    # any residue to remaining capacity in rank order
    topup1 = F.when(
        (F.col("_rk") <= F.col("_d"))
        & (F.col("_base") < F.col("n_rows")),
        F.lit(1),
    ).otherwise(F.lit(0))
    j = j.withColumn("_n1", F.col("_base") + topup1)
    resid_row = j.agg(
        (F.first("_b_eff") - F.sum("_n1")).cast("long").alias("_r")
    )
    j = j.crossJoin(F.broadcast(resid_row))
    cap_left = (F.col("n_rows") - F.col("_n1")).cast("long")
    wc = Window.orderBy(
        F.desc(cap_left), *[F.col(c).asc() for c in stratum_cols]
    ).rowsBetween(Window.unboundedPreceding, -1)
    cum_cap_before = F.coalesce(F.sum(cap_left).over(wc), F.lit(0))
    fill = F.greatest(
        F.lit(0).cast("long"),
        F.least(cap_left, F.col("_r") - cum_cap_before),
    )
    n_alloc = (F.col("_n1") + fill).cast("long")
    return j.select(
        *stratum_cols,
        "n_rows",
        "sigma",
        "weight",
        n_alloc.alias("n_alloc"),
    ).orderBy(*stratum_cols)


def oracle_neyman_sql(
    rel_sql: str,
    stratum_cols: list[str],
    val_col: str,
    budget: int,
    val_scale: int = 1000,
) -> str:
    """DuckDB twin of :func:`neyman_allocation` — the identical
    moment aggregate, micro-unit sigma, largest-remainder rounding
    and capacity re-flow, step for step."""
    ks = ", ".join(f'"{c}"' for c in stratum_cols)
    keys_asc = ", ".join(f'"{c}" ASC' for c in stratum_cols)
    b = int(budget)
    sc = float(val_scale)
    y = fixed_sql(f'"{val_col}"', sc)
    var = (
        f"((n_rows * syy - sy * sy)::DOUBLE"
        f" / (n_rows * n_rows)::DOUBLE / {sc * sc!r})"
    )
    return f"""
WITH rows_ AS (
  SELECT {ks}, {y} AS yv FROM {rel_sql}
  WHERE "{val_col}" IS NOT NULL
),
agg AS (
  SELECT {ks},
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(yv) AS BIGINT) AS sy,
         CAST(sum(yv * yv) AS BIGINT) AS syy
  FROM rows_ GROUP BY {ks}
),
strata AS (
  SELECT {ks}, n_rows,
         CAST(floor(sqrt({var}) * 1000000.0 + 0.5) AS BIGINT)
           AS sigma_u
  FROM agg
),
tot AS (
  SELECT CAST(sum(n_rows * sigma_u) AS BIGINT) AS tw,
         CAST(sum(n_rows) AS BIGINT) AS tn
  FROM strata
),
j0 AS (
  SELECT s.*, CAST(n_rows * sigma_u AS BIGINT) AS weight,
         t.tw, t.tn, least({b}, t.tn) AS b_eff
  FROM strata s CROSS JOIN tot t
),
j1 AS (
  SELECT *,
         CASE WHEN tw > 0
              THEN (b_eff)::DOUBLE * (weight)::DOUBLE / (tw)::DOUBLE
              ELSE (b_eff)::DOUBLE * (n_rows)::DOUBLE / (tn)::DOUBLE
         END AS ideal
  FROM j0
),
j2 AS (
  SELECT *,
         least(CAST(floor(ideal) AS BIGINT), n_rows) AS base_,
         CASE WHEN least(CAST(floor(ideal) AS BIGINT), n_rows)
                   < n_rows
              THEN ideal - floor(ideal) ELSE -1.0 END AS rem
  FROM j1
),
j3 AS (
  SELECT *,
         CAST(row_number() OVER (ORDER BY rem DESC, {keys_asc})
           AS BIGINT) AS rk,
         CAST(first_value(b_eff) OVER () - sum(base_) OVER ()
           AS BIGINT) AS d
  FROM j2
),
j4 AS (
  SELECT *,
         base_ + (CASE WHEN rk <= d AND base_ < n_rows
                       THEN 1 ELSE 0 END) AS n1
  FROM j3
),
j5 AS (
  SELECT *,
         CAST(first_value(b_eff) OVER () - sum(n1) OVER ()
           AS BIGINT) AS r
  FROM j4
),
j6 AS (
  SELECT *,
         CAST(n_rows - n1 AS BIGINT) AS cap_left,
         CAST(coalesce(sum(n_rows - n1) OVER (
           ORDER BY (n_rows - n1) DESC, {keys_asc}
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS cum_cap_before
  FROM j5
)
SELECT {ks}, n_rows,
       sigma_u / 1000000.0 AS sigma,
       weight,
       CAST(n1 + greatest(0, least(cap_left, r - cum_cap_before))
         AS BIGINT) AS n_alloc
FROM j6
ORDER BY {keys_asc}
"""


def effective_sample_size(
    df: DataFrame,
    weight_col: str,
    group_col: str | None = None,
) -> DataFrame:
    """Kish effective sample size of an importance-weighted selection,
    per group: ``ESS = (Σw)² / Σw²`` with ``ess_ratio = ESS/n`` (6 dp)
    — the standard degeneracy diagnostic for DSIR / temperature /
    quality-weighted sampling: an ESS ratio near 0 means a handful of
    documents carry all the training mass and the "diverse" sample is
    an illusion; near 1 means the weights are nearly uniform and the
    reweighting buys nothing. Run it on every weighted-selection
    output BEFORE spending the training budget.

    NULL / non-positive weights carry no mass, but their group stays
    in the report as an explicit ``n=0`` row with NULL ess — the
    all-zero-weight group is the MOST degenerate case and must not
    vanish from the very report meant to find it. Per-row terms are
    plain IEEE doubles folded in ONE hash-agg — the ratio of sums is
    computed once per ≤ groups row, so a 6-dp round on the outputs is
    stable (sums of positive doubles agree to far more than 6 dp
    across orderings at any realistic n; the gate tolerance argument
    of graph.py applies).
    """
    g = (
        F.col(group_col).cast("string") if group_col else F.lit("all")
    ).alias("grp")
    base = df.select(
        g, F.col(weight_col).cast("double").alias("w")
    )
    # count mass-carrying rows only, but keep EVERY group in the
    # report — an all-zero-weight group is the MOST degenerate case
    # and must show up as an explicit n=0 row, not vanish
    agg = base.groupBy("grp").agg(
        F.sum((F.col("w") > 0).cast("long")).cast("long").alias("n"),
        F.sum(F.when(F.col("w") > 0, F.col("w"))).alias("_s1"),
        F.sum(
            F.when(F.col("w") > 0, F.col("w") * F.col("w"))
        ).alias("_s2"),
    )
    ess = F.col("_s1") * F.col("_s1") / F.col("_s2")

    def _r6(c):
        # portable floor-based 6-dp (readability/_round6 discipline —
        # F.round's BigDecimal HALF_UP can differ from DuckDB round()
        # at exact boundaries)
        return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6) + F.lit(0.0)

    return agg.select(
        F.col("grp").alias("group"),
        "n",
        F.when(F.col("n") > 0, _r6(ess)).alias("ess"),
        F.when(F.col("n") > 0, _r6(ess / F.col("n"))).alias("ess_ratio"),
    )


def oracle_ess_sql(
    rel_sql: str, weight_expr: str, group_expr: str | None = None
) -> str:
    """DuckDB twin of :func:`effective_sample_size`."""
    grp = f"CAST({group_expr} AS VARCHAR)" if group_expr else "'all'"
    r6 = "floor(({x}) * 1e6 + 0.5) / 1e6 + 0.0"
    return f"""
WITH base AS (
  SELECT {grp} AS grp, TRY_CAST({weight_expr} AS DOUBLE) AS w
  FROM {rel_sql}
),
agg AS (
  SELECT grp,
         CAST(coalesce(sum(CASE WHEN w > 0 THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n,
         sum(CASE WHEN w > 0 THEN w END) AS s1,
         sum(CASE WHEN w > 0 THEN w * w END) AS s2
  FROM base GROUP BY grp
)
SELECT grp AS "group", n,
       CASE WHEN n > 0
            THEN ({r6.format(x="s1 * s1 / s2")}) END AS ess,
       CASE WHEN n > 0
            THEN ({r6.format(x="s1 * s1 / s2 / n")}) END AS ess_ratio
FROM agg
"""
