"""One-scan table profiling: per-column null fraction, distinct
count, numeric moments and string lengths — the ANALYZE/data-quality
report a curation pipeline runs before and after every stage.

The reference prints per-run coverage stats from a driver loop
(``src/services/report_service.py`` analogue: field coverage /
non-empty %%, already covered by ``operators/report.py``); this
generalizes that to a full column profile computed in ONE aggregate
pass — every per-column statistic rides the same scan, lands in a
single 1-row aggregate, and is unpivoted executor-side with
``stack`` into the long (column, metric...) shape reports want.

Distinct counts: ``approx=True`` (the 100 TB default) uses
``approx_count_distinct`` (HLL, mergeable, no expand); ``approx=
False`` uses exact ``count(DISTINCT)`` — Catalyst plans N distinct
aggregates over one scan via Expand (N× row multiplication before
partial agg), affordable at test scale and used by the SQL oracle
so the contract check stays exact. Numeric/string min/max/mean are
exact either way.

Scale notes: the profile is a full-scan reduction to ONE row —
partial aggregation does all the work map-side; the only shuffle is
the single-partition final merge of partial agg states (bytes, not
rows). With ``approx=True`` there is no Expand: profiling 50 columns
costs one scan regardless of width. Column pruning keeps the scan at
exactly the profiled columns.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from med_doi_feature_extraction_spark.kernels.fixed import (
    fixed_abs,
    fixed_abs_sql,
)
from pyspark.sql import types as T

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def profile(
    df: DataFrame,
    columns: Sequence[str] | None = None,
    approx: bool = True,
    rsd: float = 0.02,
) -> DataFrame:
    """Profile ``columns`` (default: all) in one aggregate pass.

    Output, one row per column:
    ``column, dtype, n_rows, n_nulls, null_frac, n_distinct,
    min_num, max_num, mean (numeric columns, else NULL),
    min_len, max_len, avg_len (string columns, else NULL)``.

    ``n_distinct`` counts non-null values; HLL estimate when
    ``approx`` (relative standard deviation ``rsd``, default 2%% —
    sketch memory grows ~1/rsd², still KBs), exact otherwise.
    """
    cols = list(columns or df.columns)
    dtypes = dict(df.dtypes)
    schema = {f.name: f.dataType for f in df.schema.fields}

    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        dt = schema[c]
        aggs.append(F.count(F.when(F.col(c).isNull(), 1)).alias(f"{c}__nulls"))
        aggs.append(
            (
                F.approx_count_distinct(c, rsd)
                if approx
                else F.countDistinct(c)
            ).alias(f"{c}__distinct")
        )
        if isinstance(dt, _NUMERIC):
            # decimals aggregate AS decimals (exact, summation-order-
            # independent mean — callers wanting a reproducible profile
            # of a float column cast it to decimal first), then surface
            # as double for a uniform schema
            x = F.col(c) if isinstance(dt, T.DecimalType) else F.col(c).cast("double")
            aggs.append(F.min(x).cast("double").alias(f"{c}__min_num"))
            aggs.append(F.max(x).cast("double").alias(f"{c}__max_num"))
            aggs.append(F.avg(x).cast("double").alias(f"{c}__mean"))
        else:
            n = F.lit(None).cast("double")
            aggs.append(n.alias(f"{c}__min_num"))
            aggs.append(n.alias(f"{c}__max_num"))
            aggs.append(n.alias(f"{c}__mean"))
        if isinstance(dt, T.StringType):
            ln = F.length(F.col(c)).cast("double")
            aggs.append(F.min(ln).alias(f"{c}__min_len"))
            aggs.append(F.max(ln).alias(f"{c}__max_len"))
            aggs.append(F.avg(ln).alias(f"{c}__avg_len"))
        else:
            n = F.lit(None).cast("double")
            aggs.append(n.alias(f"{c}__min_len"))
            aggs.append(n.alias(f"{c}__max_len"))
            aggs.append(n.alias(f"{c}__avg_len"))

    row = df.agg(*aggs)

    # unpivot the 1-row wide aggregate into (column, stats...) rows:
    # stack is plan-time literal metadata (names/dtypes) + column refs
    parts = []
    for c in cols:
        parts.append(
            f"'{c}', '{dtypes[c]}', `{c}__nulls`, `{c}__distinct`, "
            f"`{c}__min_num`, `{c}__max_num`, `{c}__mean`, "
            f"`{c}__min_len`, `{c}__max_len`, `{c}__avg_len`"
        )
    stacked = row.selectExpr(
        "__n as n_rows",
        f"stack({len(cols)}, {', '.join(parts)}) as "
        "(column, dtype, n_nulls, n_distinct, min_num, max_num, mean, "
        "min_len, max_len, avg_len)",
    )
    return stacked.select(
        "column",
        "dtype",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_nulls").cast("long").alias("n_nulls"),
        F.when(F.col("n_rows") > 0, F.col("n_nulls") / F.col("n_rows"))
        .alias("null_frac"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        "min_num", "max_num", "mean", "min_len", "max_len", "avg_len",
    )


def fd_violations(
    df: DataFrame, lhs: list[str] | str, rhs: str, sample: int = 3
) -> DataFrame:
    """Functional-dependency audit: report every LHS key whose rows
    carry MORE than one distinct ``rhs`` value — the data-contract
    check behind "url determines registrable domain", "doi determines
    title", "(url, warc_ts) determines content hash". Returns
    ``(lhs..., n_rows, n_values, examples)`` for violating keys only
    (empty result == dependency holds).

    One hash-agg on the LHS (partial agg absorbs hot keys);
    ``examples`` is a deterministic sorted prefix of ``sample``
    distinct offending values (same capped-sorted-prefix convention as
    decontam attribution), so the report is bounded however hot the
    key and stays oracle-reproducible."""
    keys = [lhs] if isinstance(lhs, str) else list(lhs)
    # n_values = size(collect_set(rhs)) instead of countDistinct: both
    # count distinct non-null values, but countDistinct compiles to a
    # second two-phase (Expand) aggregation — a whole extra exchange of
    # the (lhs, rhs) pairs — while the collect_set needed for
    # ``examples`` already carries the distinct values. examples keeps
    # the cast-then-dedup order of the previous collect_set(cast) form
    # (array_distinct over the cast strings).
    vals = F.collect_set(F.col(rhs))
    return (
        df.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            vals.alias("_vals"),
        )
        .select(
            *keys,
            "n_rows",
            F.size("_vals").cast("long").alias("n_values"),
            F.array_join(
                F.slice(
                    F.array_sort(
                        F.array_distinct(
                            F.transform(
                                F.col("_vals"), lambda x: x.cast("string")
                            )
                        )
                    ),
                    1,
                    sample,
                ),
                ",",
            ).alias("examples"),
        )
        .filter(F.col("n_values") > 1)
    )


def fk_orphans(
    fact: DataFrame, dim: DataFrame, fact_key: str, dim_key: str
) -> DataFrame:
    """Referential-integrity audit: fact rows whose key has NO match
    in the dimension (orphaned foreign keys), aggregated per missing
    key → ``(fact_key, n_orphans)``. Left-anti join — AQE broadcasts
    the dim key set when it fits, else a key-only shuffle (the fact
    side projects to the single key column before moving). NULL fact
    keys are reported under NULL (they can never match; a contract
    that allows them filters first)."""
    dim_keys = dim.select(F.col(dim_key).alias(fact_key)).distinct()
    return (
        fact.select(fact_key)
        .join(dim_keys, fact_key, "left_anti")
        .groupBy(fact_key)
        .agg(F.count(F.lit(1)).alias("n_orphans"))
    )


def column_entropy(
    df: DataFrame, columns: Sequence[str] | None = None
) -> DataFrame:
    """Per-column Shannon entropy of the VALUE distribution — the
    data-quality signal :func:`profile` doesn't capture: a column can
    be 100%% non-null and still carry one bit of information (constant
    fields, degenerate enums, near-duplicate snapshot columns). One
    row per column: ``column, n_rows`` (non-null), ``n_nulls,
    n_distinct, entropy`` (nats, 6 dp), ``entropy_norm``
    (entropy / ln(n_distinct), NULL when n_distinct < 2).

    Values are compared on their exact string cast (the melt needs a
    common type); bin or round float columns FIRST — their string
    forms are not engine-portable, integers and strings are.
    Columns with ZERO non-null values are omitted from the output
    (no distribution to measure) — check ``profile`` for null rates
    first.

    Shape, 100 TB lens: the ``stack`` melt multiplies rows by
    ``len(columns)`` BEFORE partial aggregation absorbs them into
    per-(column, value) counts — the same Expand-shape cost class as
    exact ``profile(approx=False)``; the per-column totals join is a
    broadcast of ``len(columns)`` rows. Entropy terms are summed as
    1e-6 micro-unit BIGINTs (drift.py discipline), so the result is
    addition-order-free and hash-exact cross-engine.
    """
    cols = list(columns or df.columns)
    pairs = ", ".join(
        f"'{c}', CAST(`{c}` AS STRING)" for c in cols
    )
    melted = df.selectExpr(
        f"stack({len(cols)}, {pairs}) AS (column, value)"
    )
    counts = (
        melted.filter(F.col("value").isNotNull())
        .groupBy("column", "value")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    nulls = (
        melted.groupBy("column")
        .agg(
            F.sum(F.col("value").isNull().cast("long")).alias("n_nulls")
        )
    )
    totals = counts.groupBy("column").agg(
        F.sum("c").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
    )
    p = F.col("c").cast("double") / F.col("n_rows").cast("double")
    term = -(p * F.log(p))
    term_u = fixed_abs(term)
    ent = (
        counts.join(F.broadcast(totals), "column")
        .groupBy("column")
        .agg(F.sum(term_u).cast("long").alias("_ent_u"))
    )
    ent_d = F.col("_ent_u") / 1e6
    norm = ent_d / F.log(F.col("n_distinct").cast("double"))
    norm_u = fixed_abs(norm)
    return (
        totals.join(ent, "column")
        .join(F.broadcast(nulls), "column")
        .select(
            "column",
            "n_rows",
            "n_nulls",
            "n_distinct",
            ent_d.alias("entropy"),
            F.when(F.col("n_distinct") >= 2, norm_u / 1e6)
            .otherwise(F.lit(None).cast("double"))
            .alias("entropy_norm"),
        )
    )


def oracle_column_entropy_sql(rel_sql: str, columns: Sequence[str]) -> str:
    """DuckDB twin of :func:`column_entropy` — one UNION ALL branch
    per column, identical micro-unit arithmetic."""
    branches = []
    for c in columns:
        branches.append(f"""
SELECT '{c}' AS column, * FROM (
  WITH vals AS (
    SELECT CAST("{c}" AS VARCHAR) AS value FROM {rel_sql}
  ),
  counts AS (
    SELECT value, CAST(count(*) AS BIGINT) AS c
    FROM vals WHERE value IS NOT NULL GROUP BY value
  ),
  tot AS (
    SELECT CAST(sum(c) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_distinct
    FROM counts
  ),
  ent AS (
    SELECT CAST(sum({fixed_abs_sql(
             '-((c)::DOUBLE / (n_rows)::DOUBLE)'
             ' * ln((c)::DOUBLE / (n_rows)::DOUBLE)'
           )}) AS BIGINT) AS ent_u
    FROM counts, tot
  )
  SELECT tot.n_rows,
         (SELECT CAST(count(*) - count(value) AS BIGINT) FROM vals)
           AS n_nulls,
         tot.n_distinct,
         ent.ent_u / 1000000.0 AS entropy,
         CASE WHEN tot.n_distinct >= 2 THEN
           {fixed_abs_sql(
             '(ent.ent_u / 1000000.0) / ln((tot.n_distinct)::DOUBLE)'
           )} / 1000000.0
         ELSE NULL END AS entropy_norm
  FROM tot, ent
)""")
    return "\nUNION ALL\n".join(branches)


def group_entropy(
    df: DataFrame,
    entity_cols: Sequence[str],
    val_col: str,
    out_prefix: str = "",
) -> DataFrame:
    """Per-ENTITY Shannon entropy of a categorical column's mix —
    :func:`column_entropy` measures one global distribution; this is
    its grouped form: "how varied is each user's event mix / each
    host's content-type mix". Low entropy = single-behavior entity
    (a feed fetcher, a template farm); high normalized entropy =
    uniform mix. A standing behavioral feature next to
    ``trend.burstiness`` (cadence) and ``windows.cumulative_distinct``
    (breadth): breadth counts kinds, entropy weighs them.

    One row per entity with ≥1 non-null value: ``*entity_cols,
    n_rows`` (non-null), ``n_distinct, entropy`` (nats, 6 dp),
    ``entropy_norm`` (entropy / ln(n_distinct), NULL when
    n_distinct < 2).

    Execution shape, 100 TB lens: TWO stacked hash-aggs — per
    (entity, value) counts, then per-entity totals — and ONE
    equi-join of the two entity-keyed tables; all three shuffle on
    the same entity-prefixed key, so the planner reuses one
    exchange's partitioning. Unlike :func:`column_entropy` the
    totals side is entity-cardinality (corpus-scale), so it is a
    SHUFFLE join by design, never a broadcast. Entropy terms are
    1e-6 micro-unit BIGINTs before the per-entity sum
    (addition-order-free, hash-exact cross-engine).
    """
    ents = list(entity_cols)
    counts = (
        df.filter(F.col(val_col).isNotNull())
        .groupBy(*ents, val_col)
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
    )
    totals = counts.groupBy(*ents).agg(
        F.sum("_c").cast("long").alias("_n"),
        F.count(F.lit(1)).cast("long").alias("_k"),
    )
    p = F.col("_c").cast("double") / F.col("_n").cast("double")
    term_u = fixed_abs(-(p * F.log(p)))
    ent = (
        counts.join(totals, ents)
        .groupBy(*ents)
        .agg(
            F.first("_n").alias("_n2"),
            F.first("_k").alias("_k2"),
            F.sum(term_u).cast("long").alias("_ent_u"),
        )
    )
    ent_d = F.col("_ent_u") / 1e6
    norm = ent_d / F.log(F.col("_k2").cast("double"))
    norm_u = fixed_abs(norm)
    px = out_prefix
    return ent.select(
        *ents,
        F.col("_n2").alias(f"{px}n_rows"),
        F.col("_k2").alias(f"{px}n_distinct"),
        ent_d.alias(f"{px}entropy"),
        F.when(F.col("_k2") >= 2, norm_u / 1e6)
        .otherwise(F.lit(None).cast("double"))
        .alias(f"{px}entropy_norm"),
    )


def oracle_group_entropy_sql(
    rel_sql: str, entity_cols: Sequence[str], val_col: str
) -> str:
    """DuckDB twin of :func:`group_entropy` — identical micro-unit
    per-(entity, value) terms and per-entity BIGINT sums."""
    ents = ", ".join(f'"{c}"' for c in entity_cols)
    return f"""
WITH counts AS (
  SELECT {ents}, "{val_col}" AS v, CAST(count(*) AS BIGINT) AS c
  FROM {rel_sql}
  WHERE "{val_col}" IS NOT NULL
  GROUP BY {ents}, "{val_col}"
),
tot AS (
  SELECT {ents},
         CAST(sum(c) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS k
  FROM counts GROUP BY {ents}
),
ent AS (
  SELECT {ents}, max(n) AS n, max(k) AS k,
         CAST(sum({fixed_abs_sql(
           '-((c)::DOUBLE / (n)::DOUBLE) * ln((c)::DOUBLE / (n)::DOUBLE)'
         )}) AS BIGINT) AS ent_u
  FROM counts JOIN tot USING ({ents})
  GROUP BY {ents}
)
SELECT {ents}, n AS n_rows, k AS n_distinct,
       ent_u / 1000000.0 AS entropy,
       CASE WHEN k >= 2
            THEN {fixed_abs_sql('(ent_u / 1000000.0) / ln((k)::DOUBLE)')}
                 / 1000000.0 END AS entropy_norm
FROM ent
"""


def uniqueness_audit(
    df: DataFrame, key_cols: Sequence[str]
) -> DataFrame:
    """Group-size distribution of a candidate key — three audits in
    one bounded table: (1) is ``key_cols`` actually a key
    (``group_size = 1`` share ≈ 1), (2) k-anonymity of a
    quasi-identifier combination BEFORE a dataset ships (the share
    of rows in groups smaller than k is exactly the re-identifiable
    mass), (3) join-explosion risk (a "key" with max group size
    10⁴ multiplies a join by 10⁴ — see ``fd_check``/``fk_check``
    for the constraint view; this is the distribution view).

    One row per observed group size: ``group_size, n_keys,
    n_rows_in, row_share`` (6 dp), ascending. Rows with a NULL in
    any key column are excluded (SQL key semantics) — their count is
    visible as ``n_rows − Σ n_rows_in`` against :func:`profile`.

    Execution shape, 100 TB lens: two stacked hash-aggs — per-key
    counts (the only corpus-sized exchange; map-side partials), then
    per-size counts (output bounded by the number of DISTINCT group
    sizes, ≤ a few hundred in practice) — plus a 1-row total
    broadcast for the share. No windows, no joins on corpus-sized
    tables.
    """
    keys = [F.col(c) for c in key_cols]
    nn = keys[0].isNotNull()
    for k in keys[1:]:
        nn = nn & k.isNotNull()
    per_key = (
        df.filter(nn)
        .groupBy(*key_cols)
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
    )
    sizes = per_key.groupBy(F.col("_c").alias("group_size")).agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
    )
    sizes = sizes.withColumn(
        "n_rows_in", (F.col("group_size") * F.col("n_keys")).cast("long")
    )
    tot = sizes.agg(
        F.sum("n_rows_in").cast("long").alias("_n")
    )
    share = F.col("n_rows_in").cast("double") / F.col("_n").cast(
        "double"
    )
    share_u = fixed_abs(share)
    return (
        sizes.crossJoin(F.broadcast(tot))
        .select(
            "group_size",
            "n_keys",
            "n_rows_in",
            (share_u / 1e6).alias("row_share"),
        )
        .orderBy("group_size")
    )


def oracle_uniqueness_sql(rel_sql: str, key_cols: Sequence[str]) -> str:
    """DuckDB twin of :func:`uniqueness_audit`."""
    keys = ", ".join(f'"{c}"' for c in key_cols)
    nn = " AND ".join(f'"{c}" IS NOT NULL' for c in key_cols)
    return f"""
WITH per_key AS (
  SELECT {keys}, CAST(count(*) AS BIGINT) AS c
  FROM {rel_sql}
  WHERE {nn}
  GROUP BY {keys}
),
sizes AS (
  SELECT c AS group_size,
         CAST(count(*) AS BIGINT) AS n_keys,
         CAST(c * count(*) AS BIGINT) AS n_rows_in
  FROM per_key GROUP BY c
),
tot AS (SELECT CAST(sum(n_rows_in) AS BIGINT) AS n FROM sizes)
SELECT group_size, n_keys, n_rows_in,
       {fixed_abs_sql('(n_rows_in)::DOUBLE / (n)::DOUBLE')}
         / 1000000.0 AS row_share
FROM sizes CROSS JOIN tot
ORDER BY group_size
"""


#: (name, anchored regex) — portable across Java regex and RE2:
#: character classes and bounded quantifiers only, no lookaround.
PATTERN_CENSUS = [
    ("p_int", r"^[+-]?[0-9]+$"),
    ("p_float", r"^[+-]?[0-9]+\.[0-9]+$"),
    ("p_date", r"^[0-9]{4}-[0-9]{2}-[0-9]{2}$"),
    ("p_datetime", r"^[0-9]{4}-[0-9]{2}-[0-9]{2}[T ][0-9]{2}:[0-9]{2}"),
    ("p_url", r"^https?://[^ ]+$"),
    ("p_email", r"^[^@ ]+@[^@ ]+\.[^@ ]+$"),
    ("p_uuid", r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-"
               r"[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"),
    ("p_empty", r"^\s*$"),
]


def pattern_census(
    df: DataFrame, columns: Sequence[str]
) -> DataFrame:
    """Shape census of string-typed columns — the "what IS this
    column" profiler: per column, what fraction of non-null values
    look like an int / float / ISO date / datetime / url / email /
    uuid / whitespace-empty, plus ``other_share`` (matched nothing).
    A column that is 98% ``p_int`` and 2% other is a typed field
    with dirt in it — the per-pattern shares find mixed-type columns,
    unit mix-ups and placeholder pollution before a cast silently
    nulls them. Patterns may overlap (a date also starts a
    datetime? no — both anchored and disjoint here, but additions
    may overlap; ``other_share`` counts rows matching NONE).

    One row per column: ``column, n_rows`` (non-null), ``n_nulls``,
    one ``<pattern>_share`` per census pattern (6 dp) and
    ``other_share``.

    Execution shape, 100 TB lens: the stack melt (same Expand cost
    class as ``column_entropy``) feeds ONE hash-agg onto
    ``len(columns)`` groups; every pattern is a conditional sum in
    the SAME aggregate — one scan total, regexes evaluated in
    whole-stage codegen. Patterns use the portable subset (character
    classes + bounded quantifiers — identical semantics in Java
    regex and RE2/DuckDB).
    """
    cols = list(columns)
    pairs = ", ".join(f"'{c}', CAST(`{c}` AS STRING)" for c in cols)
    melted = df.selectExpr(
        f"stack({len(cols)}, {pairs}) AS (column, value)"
    )
    v = F.col("value")
    match_flags = [
        (name, v.rlike(rx)) for name, rx in PATTERN_CENSUS
    ]
    any_match = None
    for _, flag in match_flags:
        any_match = flag if any_match is None else (any_match | flag)
    aggs = [
        F.sum(v.isNotNull().cast("long")).cast("long").alias("n_rows"),
        F.sum(v.isNull().cast("long")).cast("long").alias("n_nulls"),
        *[
            F.sum(F.when(v.isNotNull() & flag, 1).otherwise(0))
            .cast("long")
            .alias(f"_{name}")
            for name, flag in match_flags
        ],
        F.sum(
            F.when(v.isNotNull() & ~any_match, 1).otherwise(0)
        )
        .cast("long")
        .alias("_other"),
    ]
    per = melted.groupBy("column").agg(*aggs)

    def _share(cnt: str) -> Column:
        s = F.when(
            F.col("n_rows") > 0,
            F.col(cnt).cast("double") / F.col("n_rows").cast("double"),
        )
        return F.when(s.isNull(), F.lit(None)).otherwise(fixed_abs(s) / 1e6)

    return per.select(
        "column",
        "n_rows",
        "n_nulls",
        *[
            _share(f"_{name}").alias(f"{name}_share")
            for name, _ in PATTERN_CENSUS
        ],
        _share("_other").alias("other_share"),
    ).orderBy("column")


def oracle_pattern_census_sql(
    rel_sql: str, columns: Sequence[str]
) -> str:
    """DuckDB twin of :func:`pattern_census` — identical portable
    regexes via regexp_matches, one UNION ALL branch per column."""

    def share(cnt: str) -> str:
        return (
            "CASE WHEN n_rows > 0 THEN "
            f"{fixed_abs_sql(f'({cnt})::DOUBLE / (n_rows)::DOUBLE')}"
            " / 1000000.0 END"
        )

    branches = []
    for c in columns:
        flags = ", ".join(
            f"CAST(coalesce(sum(CASE WHEN v IS NOT NULL AND"
            f" regexp_matches(v, '{rx}') THEN 1 ELSE 0 END), 0)"
            f" AS BIGINT) AS c_{name}"
            for name, rx in PATTERN_CENSUS
        )
        none_of = " OR ".join(
            f"regexp_matches(v, '{rx}')" for _, rx in PATTERN_CENSUS
        )
        shares = ", ".join(
            f"{share(f'c_{name}')} AS {name}_share"
            for name, _ in PATTERN_CENSUS
        )
        branches.append(f"""
SELECT "column", n_rows, n_nulls, {shares},
       {share('c_other')} AS other_share
FROM (
  SELECT '{c}' AS "column",
         CAST(coalesce(sum(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_rows,
         CAST(coalesce(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_nulls,
         {flags},
         CAST(coalesce(sum(CASE WHEN v IS NOT NULL AND NOT ({none_of})
           THEN 1 ELSE 0 END), 0) AS BIGINT) AS c_other
  FROM (SELECT CAST("{c}" AS VARCHAR) AS v FROM {rel_sql})
)""")
    return "\nUNION ALL\n".join(branches) + '\nORDER BY "column"'


def weighted_quantiles(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    qs: tuple[float, ...] = (0.25, 0.5, 0.75),
    group_col: str | None = None,
) -> DataFrame:
    """EXACT weighted quantiles per group (inverse-CDF / Hyndman–Fan
    type 1: the smallest value whose cumulative weight reaches
    q·total). The question token-budgeted curation actually asks is
    weighted — "the median document BY TOKEN MASS" is much longer
    than the median document by count, and mixture planning wants the
    former. Rows with NULL or non-positive weight are excluded
    (documented: they carry no mass).

    One row per group with a ``q<pp>`` column per requested quantile
    (``q25, q50, ...``).

    Execution shape, 100 TB lens: per-(group, value) weight collapse
    FIRST (one hash-agg — the Zipf absorber: a value repeated a
    billion times is one row after it), then a per-group cumulative
    window over the collapsed DISTINCT-value table and one ≤
    groups-sized argmin agg per quantile. The window partition is a
    group's distinct values — bounded by value cardinality, not row
    count.
    """
    if not qs or any(not 0 < q <= 1 for q in qs):
        raise ValueError("qs must be in (0, 1]")
    names = [f"q{int(round(q * 100)):02d}" for q in qs]
    if len(set(names)) != len(names):
        raise ValueError(
            f"qs collide at whole-percent output names: {names}"
        )
    g = (
        F.col(group_col).cast("string") if group_col else F.lit("all")
    ).alias("grp")
    base = df.select(
        g,
        F.col(value_col).cast("double").alias("v"),
        F.col(weight_col).cast("double").alias("w"),
    ).filter(F.col("v").isNotNull() & (F.col("w") > 0))
    per_v = base.groupBy("grp", "v").agg(F.sum("w").alias("w"))
    win = Window.partitionBy("grp").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = Window.partitionBy("grp")
    c = per_v.select(
        "grp",
        "v",
        F.sum("w").over(win).alias("cw"),
        F.sum("w").over(tot).alias("tw"),
    )
    aggs = []
    for q in qs:
        name = f"q{int(round(q * 100)):02d}"
        aggs.append(
            F.min(
                F.when(
                    F.col("cw") >= F.lit(float(q)) * F.col("tw"),
                    F.col("v"),
                )
            ).alias(name)
        )
    return c.groupBy("grp").agg(*aggs).withColumnRenamed("grp", "group")


def oracle_weighted_quantiles_sql(
    rel_sql: str,
    value_expr: str,
    weight_expr: str,
    qs: tuple[float, ...] = (0.25, 0.5, 0.75),
    group_expr: str | None = None,
) -> str:
    """DuckDB twin of :func:`weighted_quantiles` (same type-1
    inverse-CDF definition, same collapse-then-cumulate shape)."""
    grp = (
        f"CAST({group_expr} AS VARCHAR)" if group_expr else "'all'"
    )
    picks = ",\n       ".join(
        f"min(CASE WHEN cw >= {float(q)} * tw THEN v END)"
        f" AS q{int(round(q * 100)):02d}"
        for q in qs
    )
    return f"""
WITH base AS (
  -- TRY_CAST mirrors Spark's non-ANSI cast: unparseable values
  -- become NULL and drop, instead of erroring the oracle
  SELECT {grp} AS grp,
         TRY_CAST({value_expr} AS DOUBLE) AS v,
         TRY_CAST({weight_expr} AS DOUBLE) AS w
  FROM {rel_sql}
  WHERE TRY_CAST({value_expr} AS DOUBLE) IS NOT NULL
    AND TRY_CAST({weight_expr} AS DOUBLE) > 0
),
per_v AS (SELECT grp, v, sum(w) AS w FROM base GROUP BY grp, v),
c AS (
  SELECT grp, v,
         sum(w) OVER (PARTITION BY grp ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cw,
         sum(w) OVER (PARTITION BY grp) AS tw
  FROM per_v
)
SELECT grp AS "group", {picks}
FROM c GROUP BY grp
"""
