"""Mergeable sketch aggregates: HLL distinct counts, approximate
quantiles, and a two-level (partition → merge) sketch pipeline.

At 10^12 documents, exact ``count(DISTINCT ...)`` is a full shuffle
of every distinct key and exact percentiles are a global sort — the
corpus-stats questions a curation pipeline asks constantly ("distinct
urls per domain", "p95 doc length per language") need sketches. Spark
ships DataSketches HLL (``hll_sketch_agg``/``hll_union_agg``, binary
mergeable state) and Greenwald-Khanna approximate percentiles
(``percentile_approx``); this module wraps them in the engine's
operator surface and, more importantly, exposes the MERGE path: build
per-group sketch bytes once, persist them, and answer rollups at any
coarser grouping by unioning sketches — never rescanning the corpus.

That merge property is the scale story: the expensive pass is one
scan producing kilobyte-sized sketch rows per fine-grained group;
every coarser rollup (per-domain → per-TLD → global) is an aggregate
over those rows. Exact distinct cannot do this (distinct sets don't
merge small); HLL sketches do, with ~1.6%% relative error at the
default lgk=12 (4 KiB per sketch).

Correctness strategy: sketch VALUES are implementation-defined, so
the contract query materializes them (the same materialize-then-SQL
seam the minhash/LSH oracles use) and the DuckDB oracle independently
computes EXACT distinct counts + quantiles from the base table and
checks the materialized estimates against published error bounds.
The merge identity (union of per-partition sketches == one-shot
sketch) is pytest-pinned, which is exactly the property that makes
the two-level pipeline trustworthy.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_LGK = 12  # DataSketches default: ~1.6% stderr, 4 KiB sketch


def group_sketch(
    df: DataFrame,
    keys: Sequence[str],
    distinct_col: str,
    lgk: int = DEFAULT_LGK,
) -> DataFrame:
    """Per-``keys`` HLL sketch BYTES for ``distinct_col`` plus the
    estimate: ``(keys..., sketch binary, distinct_est long)``.

    The sketch column is the reusable artifact — persist it and every
    coarser rollup is ``rollup_sketch`` over these rows instead of a
    corpus rescan."""
    sketch = F.hll_sketch_agg(distinct_col, F.lit(lgk)).alias("sketch")
    return df.groupBy(*keys).agg(sketch).withColumn(
        "distinct_est", F.hll_sketch_estimate("sketch")
    )


def rollup_sketch(
    sketches: DataFrame, keys: Sequence[str], sketch_col: str = "sketch"
) -> DataFrame:
    """Merge fine-grained sketch rows up to coarser ``keys`` (possibly
    ``[]`` for a global estimate) — touches only the sketch rows,
    never the base data. Allowing different lgk across inputs
    (``allowDifferentLgConfigK=True``) keeps historical sketch files
    usable after a precision change."""
    merged = F.hll_union_agg(sketch_col, F.lit(True)).alias("sketch")
    grouped = (
        sketches.groupBy(*keys).agg(merged)
        if keys
        else sketches.groupBy().agg(merged)
    )
    return grouped.withColumn("distinct_est", F.hll_sketch_estimate("sketch"))


def approx_stats(
    df: DataFrame,
    keys: Sequence[str],
    distinct_col: str,
    value_col: str,
    quantiles: Sequence[float] = (0.5, 0.95),
    accuracy: int = 10000,
    lgk: int = DEFAULT_LGK,
) -> DataFrame:
    """One-scan approximate group stats: HLL distinct estimate of
    ``distinct_col`` + Greenwald-Khanna quantiles of ``value_col``.

    Output: ``(keys..., distinct_est, q<pct> for each quantile)``.
    ``accuracy`` bounds GK rank error at ``1/accuracy`` of the group
    row count — at accuracy=10000, a q50 estimate sits within the
    values at ranks n*(0.5 ± 0.0001)."""
    aggs = [
        F.hll_sketch_estimate(
            F.hll_sketch_agg(distinct_col, F.lit(lgk))
        ).alias("distinct_est")
    ]
    for q in quantiles:
        name = f"q{int(round(q * 100)):02d}"
        aggs.append(
            F.percentile_approx(value_col, F.lit(q), F.lit(accuracy)).alias(name)
        )
    return df.groupBy(*keys).agg(*aggs)


# --------------------------------------------------------------- count-min


def _cms_pos(key: F.Column, row: int, width: int) -> F.Column:
    """Row-``row``'s bucket for ``key``: floor(u * width) over the
    engine-portable sha256 uniform (``sampling.hash_uniform`` with the
    row index as salt) — deliberately NOT xxhash64, so the DuckDB
    oracle rebuilds the identical sketch and the whole estimate path
    is hash-checkable (the HLL/GK wrappers above can only be
    bound-checked; CMS built on a portable hash can be value-checked)."""
    from med_doi_feature_extraction_spark.operators.sampling import (
        hash_uniform,
    )

    return F.floor(hash_uniform(key, salt=f"cms{row}") * width).cast("long")


def cms_build(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1 << 12,
    weight_col: str | None = None,
) -> DataFrame:
    """Count-Min sketch of ``key_col``'s frequency distribution as a
    SPARSE (row, pos, n) table — at most ``depth × width`` rows
    regardless of input size. One explode (×depth) + one hash-agg with
    map-side partials; mergeable by construction (union two sketch
    tables and re-sum). Estimates overcount only: for any key,
    ``true ≤ est ≤ true + εN`` with ε ≈ e/width at failure prob
    e^-depth — the standard CMS guarantee.

    ``weight_col``: build from a PRE-AGGREGATED ``(key, weight)``
    table instead of raw occurrences — ``n`` becomes ``sum(weight)``,
    bit-identical to counting the raw rows, but the (sha-based,
    engine-portable ⇒ expensive) bucket hash runs once per DISTINCT
    key rather than once per occurrence. The cheap "aggregate before
    you compute" form for callers that already need per-key counts.
    Rows whose weight is NULL or ≤ 0 stand for no occurrence and are
    dropped, so they cannot materialize an ``n = 0`` cell."""
    coords = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("row"),
                    _cms_pos(F.col(key_col), i, width).alias("pos"),
                )
                for i in range(depth)
            ]
        )
    ).alias("c")
    if weight_col is None:
        w, keep = F.lit(1), []
    else:
        df = df.filter(F.col(weight_col) > 0)
        w, keep = F.col("_w"), [F.col(weight_col).alias("_w")]
    return (
        df.select(coords, *keep)
        .select(F.col("c.row").alias("row"), F.col("c.pos").alias("pos"), w.alias("_n1"))
        .groupBy("row", "pos")
        .agg(F.sum("_n1").cast("long").alias("n"))
    )


def cms_estimate(
    cms: DataFrame,
    probes: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1 << 12,
) -> DataFrame:
    """Point-frequency estimates for ``probes[key_col]``: join each of
    the ``depth`` (row, pos) coordinates against the sparse sketch
    (sketch side is ≤ depth×width rows ⇒ broadcast) and take the min;
    coordinates absent from the sparse table count 0. Adds ``est``."""
    coords = probes.select(
        key_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        _cms_pos(F.col(key_col), i, width).alias("pos"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("c"),
    ).select(key_col, F.col("c.row").alias("row"), F.col("c.pos").alias("pos"))
    joined = coords.join(F.broadcast(cms), ["row", "pos"], "left")
    return joined.groupBy(key_col).agg(
        F.min(F.coalesce(F.col("n"), F.lit(0))).alias("est")
    )


def cms_join_size(
    cms_a: DataFrame, cms_b: DataFrame, depth: int = 4
) -> DataFrame:
    """Join-cardinality estimate from two Count-Min sketches: the
    size of an equi-join on the sketched key is the inner product
    Σ_k fA(k)·fB(k), and CMS estimates it as min over rows of
    Σ_pos nA[row,pos]·nB[row,pos] (Cormode & Muthukrishnan 2005, the
    inner-product query). One-sided error like point queries:
    ``true ≤ est ≤ true + ε·|A|·|B|`` with ε ≈ e/width.

    Why it matters at 100 TB: deciding a join strategy (broadcast vs
    shuffle vs skew-salt) needs the OUTPUT size, which no single-side
    statistic gives — two sketch tables of ≤ depth×width rows each
    answer it without touching either corpus again. Both sides are
    bounded, so the join below broadcasts; a row with no overlapping
    buckets has inner product 0 and is preserved via the depth-row
    spine (min must see it).

    Returns one row: ``est`` (BIGINT; an overestimate of the true
    inner product, minimized across the depth rows). Counts are
    summed as BIGINT — exact and DuckDB-checkable; if per-bucket
    count products could exceed 2^63 (both sides ≥ ~10^10 rows on one
    bucket), cast to decimal(38,0) first.
    """
    spine = cms_a.sparkSession.range(depth).select(
        F.col("id").cast("int").alias("row")
    )
    prod = (
        cms_a.join(
            F.broadcast(cms_b.withColumnRenamed("n", "n_b")),
            ["row", "pos"],
        )
        .groupBy("row")
        .agg(F.sum(F.col("n") * F.col("n_b")).alias("ip"))
    )
    per_row = spine.join(F.broadcast(prod), "row", "left").select(
        F.coalesce(F.col("ip"), F.lit(0)).alias("ip")
    )
    return per_row.agg(F.min("ip").cast("long").alias("est"))


# ------------------------------------- portable quantile sketch (sample)


def quantile_sample(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    key_col: str,
    rate: float,
    salt: str = "qs",
) -> DataFrame:
    """Mergeable quantile sketch = the hash-sampled value rows.

    Membership is a pure function of ``key_col`` (the portable sha256
    uniform from ``operators/sampling.py``), which buys the property
    no RNG-based sample has: ``quantile_sample(A) ∪ quantile_sample(B)
    == quantile_sample(A ∪ B)`` EXACTLY for disjoint A, B — per-shard
    sketches union into the corpus sketch with no rescan, the same
    merge story as hll_build/cms_build, and the sketch file is an
    engine-portable artifact (DuckDB rebuilds it row-for-row).

    Size: Binomial(N, rate) ≈ rate·N rows — pick ``rate`` so the
    per-group sample fits one executor's sort buffer (the estimate
    step sorts per group). Rank error of a sample quantile at q is
    ~sqrt(q(1-q)/s) of the population (s = group sample size), so
    s ≈ 10^4 gives ~0.5% rank error at the median.
    """
    from med_doi_feature_extraction_spark.operators.sampling import (
        hash_uniform,
    )

    return df.filter(hash_uniform(key_col, salt) < F.lit(rate)).select(
        *keys, value_col
    )


def quantile_estimate(
    sample: DataFrame,
    keys: Sequence[str],
    value_col: str,
    qs: Sequence[float],
) -> DataFrame:
    """Interpolated quantiles over a ``quantile_sample`` sketch:
    the EXACT ``percentile`` aggregate (same linear-interpolation
    definition as DuckDB quantile_cont — cross-engine deterministic,
    unlike approx_percentile), cheap because it sorts the bounded
    sample, not the corpus. Columns ``q<pct>`` rounded to 6 dp."""
    pct = F.percentile(F.col(value_col), F.lit(list(qs)))
    grouped = sample.groupBy(*keys) if keys else sample.groupBy()
    agg = grouped.agg(pct.alias("_q"))
    return agg.select(
        *keys,
        *[
            F.round(F.element_at("_q", i + 1), 6).alias(
                f"q{round(q * 100):02d}"
            )
            for i, q in enumerate(qs)
        ],
    )


# ------------------------------------------------------- portable HLL


HLL_P = 10  # 1024 registers: stderr 1.04/sqrt(m) ~ 3.25%
_HASH_BITS = 60  # 15 hex chars of sha256: exact in BIGINT both engines


def _hash60(col: F.Column, salt: str = "hll") -> F.Column:
    """Engine-portable 60-bit hash: the first 15 hex chars of sha256
    over the same ``value|salt`` tagging ``sampling.hash_uniform``
    uses. 15 hex = 60 bits keeps the value exact in a signed BIGINT in
    BOTH Spark (``conv`` → long) and DuckDB (``::UBIGINT::BIGINT``) —
    the whole point of this variant is that every register value is
    reproducible by any engine, so sketch FILES are portable artifacts
    and the DuckDB oracle can value-check them (the DataSketches
    wrappers above are opaque binaries, bound-checkable only)."""
    tagged = F.concat(
        F.coalesce(col.cast("string"), F.lit("")), F.lit("|" + salt)
    )
    return F.conv(F.substring(F.sha2(tagged, 256), 1, 15), 16, 10).cast(
        "long"
    )


def hll_build(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    p: int = HLL_P,
) -> DataFrame:
    """Per-``keys`` HLL register table ``(keys..., idx, rho)`` — the
    SPARSE mergeable state (absent registers are 0): at most ``2^p``
    rows per group regardless of input size, exact integers, engine
    portable (Flajolet et al. 2007, the plain HyperLogLog register
    rule: idx = low ``p`` hash bits, rho = 1 + leading-zero count of
    the remaining ``60-p`` bits).

    Plan shape: the register max is ONE hash-agg keyed by
    (keys, idx) — partial maxes collapse map-side, so the shuffle
    carries at most ``2^p`` rows per group per map task no matter how
    many raw rows scan. floor(log2(w)) is ``length(bin(w)) - 1``
    (binary strings print without leading zeros in both engines —
    checked, not assumed)."""
    m = 1 << p
    h = _hash60(F.col(value_col))
    idx = (h % m).alias("idx")
    # shiftright, not floor(h/m): h is 60-bit and `/` would route it
    # through a 53-bit-mantissa double (exactness is the contract here)
    w = F.shiftright(h, p)
    rho = (
        F.when(w > 0, F.lit(_HASH_BITS - p) - (F.length(F.bin(w)) - 1))
        .otherwise(F.lit(_HASH_BITS - p + 1))
        .cast("int")
        .alias("_rho")
    )
    return (
        df.select(*keys, idx, rho)
        .groupBy(*keys, "idx")
        .agg(F.max("_rho").alias("rho"))
    )


def hll_merge(
    sketches: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Merge register tables to coarser ``keys`` (``[]`` = global):
    union inputs first if they come from separate builds, then this is
    one register-table-sized max-agg — the base corpus is never
    rescanned, and ``hll_merge(hll_build(A) ∪ hll_build(B)) ==
    hll_build(A ∪ B)`` exactly (pytest-pinned)."""
    grouped = (
        sketches.groupBy(*keys, "idx")
        if keys
        else sketches.groupBy("idx")
    )
    return grouped.agg(F.max("rho").alias("rho"))


def hll_estimate(
    sketches: DataFrame, keys: Sequence[str], p: int = HLL_P
) -> DataFrame:
    """Distinct-count estimates from a register table:
    ``(keys..., distinct_est double)``.

    The harmonic mean is computed EXACTLY in integers first:
    ``S = Σ_j 2^(K - M_j)`` with ``K = 60 - p + 1`` (absent registers
    contribute ``2^K``), which is ≤ 2^61 — no float-sum ordering
    nondeterminism; the only float ops are one division and (in the
    small-range regime) one log, so estimates are bit-reproducible
    across engines. Small-range correction per the paper: linear
    counting ``m·ln(m/V)`` when ``E ≤ 2.5m`` and empty registers
    remain."""
    m = 1 << p
    k = _HASH_BITS - p + 1
    alpha = 0.7213 / (1.0 + 1.079 / m)
    grouped = (
        sketches.groupBy(*keys)
        if keys
        else sketches.groupBy()
    )
    agg = grouped.agg(
        F.sum(F.expr(f"shiftleft(cast(1 as bigint), {k} - rho)")).alias(
            "_s_present"
        ),
        F.count(F.lit(1)).alias("_n_present"),
    )
    s = (
        F.col("_s_present")
        + (F.lit(m) - F.col("_n_present")) * F.lit(1 << k).cast("long")
    ).cast("double")
    raw = F.lit(alpha * m * m * float(1 << k)) / s
    v = (F.lit(m) - F.col("_n_present")).cast("double")
    est = F.when(
        (raw <= 2.5 * m) & (v > 0), F.lit(float(m)) * F.log(F.lit(float(m)) / v)
    ).otherwise(raw)
    return agg.select(*keys, F.round(est, 3).alias("distinct_est"))


def hll_overlap(
    sketches: DataFrame, group_col: str = "grp", p: int = HLL_P
) -> DataFrame:
    """Pairwise source-overlap matrix from per-group HLL register
    tables: for every unordered group pair, distinct estimates for
    each side, their UNION (register-wise max — the HLL merge
    identity), the inclusion-exclusion INTERSECTION estimate, and the
    implied Jaccard. This is the cross-snapshot / cross-source dedup
    PLANNING tool: "how much of crawl B is already in crawl A" without
    rescanning either corpus — sketches are the only input, so the
    matrix costs O(pairs · 2^p) rows of bounded-table algebra.

    Inclusion-exclusion inherits HLL error on BOTH terms, so small
    intersections of large sets are noisy (clamped at 0); the
    estimate is for routing/planning, the exact answer is the dedup
    tier's job. Plan: a pairs×registers expansion via two BROADCAST
    equi joins of the tiny pair list (never a theta join), one
    (pair, idx) max-agg, then the shared exact-integer estimator."""
    groups = sketches.select(F.col(group_col).alias("_g")).distinct()
    pairs = (
        groups.select(F.col("_g").alias("ga"))
        .crossJoin(groups.select(F.col("_g").alias("gb")))
        .filter(F.col("ga") < F.col("gb"))
    )
    bp = F.broadcast(pairs)
    sk = sketches.select(
        F.col(group_col).alias("_sg"), "idx", "rho"
    )
    ra = bp.join(sk, F.col("_sg") == F.col("ga")).select(
        "ga", "gb", "idx", "rho"
    )
    rb = bp.join(sk, F.col("_sg") == F.col("gb")).select(
        "ga", "gb", "idx", "rho"
    )
    union_regs = (
        ra.unionByName(rb).groupBy("ga", "gb", "idx").agg(
            F.max("rho").alias("rho")
        )
    )
    est_u = hll_estimate(union_regs, ["ga", "gb"], p=p).withColumnRenamed(
        "distinct_est", "est_union"
    )
    est_g = hll_estimate(sketches, [group_col], p=p)
    ea = est_g.select(
        F.col(group_col).alias("ga"), F.col("distinct_est").alias("est_a")
    )
    eb = est_g.select(
        F.col(group_col).alias("gb"), F.col("distinct_est").alias("est_b")
    )
    out = est_u.join(F.broadcast(ea), "ga").join(F.broadcast(eb), "gb")
    inter = F.greatest(
        F.lit(0.0), F.col("est_a") + F.col("est_b") - F.col("est_union")
    )
    return out.select(
        "ga", "gb", "est_a", "est_b", "est_union",
        F.round(inter, 3).alias("est_intersect"),
        F.round(inter / F.col("est_union"), 6).alias("jaccard_est"),
    )
