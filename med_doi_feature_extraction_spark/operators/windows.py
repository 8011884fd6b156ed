"""Windowed feature-engineering operators: lag/lead, backfill,
rolling aggregates, crawl-gap sessionization, latest-per-key dedupe.

The reference has NO window functions (SURVEY.md §2.6) — these fill
the north-rule capability gap. All operators are pure built-in Window
expressions (JVM-side, whole-stage codegen; zero Python).

Temporal-leakage contract: every feature here is a function of rows
with ``ts <= current ts`` ONLY — except ``lead``-based columns, which
are training labels and are named with a ``label_`` prefix so serving
paths can drop them (SURVEY.md §7.3). Enforced by the deletion-
invariance property test in tests/test_windows.py (test_leakage_deletion_invariance).

Determinism: all orderings are ``(ts, *tiebreak)``; callers must pass
a tiebreak column when ts may repeat within an entity.

Scale notes: Window.partitionBy(entity) shuffles once on the entity
key; all window features share that single shuffle (one Sort + one
Window node — verify with .explain()). Per-key ordering cannot be
salted without breaking order semantics; hot entities are bounded by
snapshots-per-url (≤ thousands), so a single task handles the largest
key comfortably (SURVEY.md §7.3).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from med_doi_feature_extraction_spark.operators.dedup import tokens_col


def _order_cols(ts: str, tiebreak: Sequence[str] | None) -> list[Column]:
    return [F.col(ts).asc()] + [F.col(c).asc() for c in (tiebreak or [])]


def _epoch_seconds(col: Column) -> Column:
    """Seconds since epoch; handles TIMESTAMP_NTZ (cast via TIMESTAMP —
    session TZ is pinned UTC so the value is preserved)."""
    return col.cast("timestamp").cast("long")


def _entity_keys(entity: str | Sequence[str]) -> list[str]:
    return [entity] if isinstance(entity, str) else list(entity)


def entity_window(entity: str | Sequence[str], ts: str, tiebreak: Sequence[str] | None = None):
    """Partition by the entity key(s), order by ``(ts, *tiebreak)`` asc."""
    return Window.partitionBy(*_entity_keys(entity)).orderBy(*_order_cols(ts, tiebreak))


def with_lag_lead(
    df: DataFrame,
    entity: str | Sequence[str],
    ts: str,
    cols: dict[str, str],
    k: int = 1,
    tiebreak: Sequence[str] | None = None,
    include_lead: bool = False,
) -> DataFrame:
    """Add ``<alias>_lag{k}`` (and optional ``label_<alias>_lead{k}``)
    plus ``<alias>_delta{k}`` for numeric cols.

    ``cols``: mapping source column → output alias base.
    """
    w = entity_window(entity, ts, tiebreak)
    out = {}
    for src, alias in cols.items():
        lagged = F.lag(src, k).over(w)
        out[f"{alias}_lag{k}"] = lagged
        out[f"{alias}_delta{k}"] = (F.col(src) - lagged).cast("double")
        if include_lead:
            # training-label only: uses FUTURE rows — never a serving feature
            out[f"label_{alias}_lead{k}"] = F.lead(src, k).over(w)
    return df.withColumns(out)


def forward_fill(
    df: DataFrame,
    entity: str | Sequence[str],
    ts: str,
    cols: Sequence[str],
    tiebreak: Sequence[str] | None = None,
    suffix: str = "_ffill",
) -> DataFrame:
    """Backfill operator: carry the last non-null observation with
    ``ts' <= ts`` forward per entity (north-rule 'backfill')."""
    w = entity_window(entity, ts, tiebreak).rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumns(
        {f"{c}{suffix}": F.last(c, ignorenulls=True).over(w) for c in cols}
    )


def sessionize(
    df: DataFrame,
    entity: str | Sequence[str],
    ts: str,
    gap_seconds: int,
    tiebreak: Sequence[str] | None = None,
) -> DataFrame:
    """Crawl-gap sessionization: a new session starts when the gap
    from the previous snapshot exceeds ``gap_seconds`` (strictly).

    Adds: ``gap_seconds`` (null on first row per entity),
    ``session_id`` (1-based per entity), ``session_seq`` (1-based row
    index within session), ``snap_rank`` (1-based row index within
    entity).
    """
    w = entity_window(entity, ts, tiebreak)
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    ts_long = _epoch_seconds(F.col(ts))
    gap = ts_long - F.lag(ts_long).over(w)
    df = df.withColumns(
        {
            "gap_seconds": gap,
            "snap_rank": F.row_number().over(w),
            "_new_session": F.when(
                gap.isNull() | (gap > gap_seconds), F.lit(1)
            ).otherwise(F.lit(0)),
        }
    )
    df = df.withColumn("session_id", F.sum("_new_session").over(wcum).cast("long"))
    w_sess = entity_window([*_entity_keys(entity), "session_id"], ts, tiebreak)
    return df.withColumn("session_seq", F.row_number().over(w_sess)).drop("_new_session")


def session_features(
    df_sessionized: DataFrame,
    entity: str,
    ts: str,
    value_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-session aggregates over a ``sessionize`` output: one row per
    (entity, session_id) with start/end/duration/n_events and
    sum/mean of ``value_cols``."""
    aggs = [
        F.min(ts).alias("session_start"),
        F.max(ts).alias("session_end"),
        (F.max(_epoch_seconds(F.col(ts))) - F.min(_epoch_seconds(F.col(ts)))).alias(
            "duration_seconds"
        ),
        F.count(F.lit(1)).alias("n_events"),
    ]
    for c in value_cols:
        aggs += [
            F.round(F.sum(c), 6).alias(f"{c}_sum"),
            F.round(F.avg(c), 6).alias(f"{c}_avg"),
        ]
    return df_sessionized.groupBy(entity, "session_id").agg(*aggs)


def rolling(
    df: DataFrame,
    entity: str | Sequence[str],
    ts: str,
    col: str,
    n_rows: int | None = None,
    range_seconds: int | None = None,
    tiebreak: Sequence[str] | None = None,
) -> DataFrame:
    """Trailing rolling aggregates (count/sum/avg) over either the
    previous ``n_rows`` rows (inclusive of current) or a trailing time
    range of ``range_seconds`` (inclusive). Exactly one must be set.

    Row frames include the tiebreak ordering; range frames order by
    epoch seconds only (range semantics are value-based).
    """
    if (n_rows is None) == (range_seconds is None):
        raise ValueError("set exactly one of n_rows / range_seconds")
    if n_rows is not None:
        w = entity_window(entity, ts, tiebreak).rowsBetween(-(n_rows - 1), 0)
        tag = f"r{n_rows}"
    else:
        w = (
            Window.partitionBy(*_entity_keys(entity))
            .orderBy(_epoch_seconds(F.col(ts)))
            .rangeBetween(-range_seconds, 0)
        )
        tag = f"s{range_seconds}"
    return df.withColumns(
        {
            f"{col}_cnt_{tag}": F.count(col).over(w),
            f"{col}_sum_{tag}": F.round(F.sum(col).over(w), 6),
            f"{col}_avg_{tag}": F.round(F.avg(col).over(w), 6),
        }
    )


def dedupe_latest(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    tiebreak: Sequence[str] | None = None,
) -> DataFrame:
    """Keep the latest row per key (ties broken by tiebreak DESC then
    arbitrary-but-deterministic). Classic top-1-per-group window."""
    order = [F.col(ts).desc()] + [F.col(c).desc() for c in (tiebreak or [])]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _prev_jaccard(
    df: DataFrame, entity: str, ts: str, text: str, tiebreak: Sequence[str] | None
) -> tuple[DataFrame, Column]:
    """Stage ``(entity, ts, _toks, *tiebreak)`` and return it with the
    token-set Jaccard to the entity's previous snapshot (NULL for the
    first) as a Column over the staged frame."""
    staged = df.select(
        F.col(entity), F.col(ts), tokens_col(text).alias("_toks"),
        *[F.col(c) for c in (tiebreak or [])],
    )
    prev = F.lag(F.col("_toks")).over(entity_window(entity, ts, tiebreak))
    inter = F.size(F.array_intersect(prev, F.col("_toks")))
    union = F.size(prev) + F.size(F.col("_toks")) - inter
    return staged, inter.cast("double") / union


def snapshot_drift(
    df: DataFrame,
    entity: str,
    ts: str,
    text: str,
    tiebreak: Sequence[str] | None = None,
) -> DataFrame:
    """Per-snapshot content-drift MAGNITUDE vs the previous snapshot of
    the same entity — the graded companion of ``change_rate_features``
    (which only detects *whether* content changed, reference scores
    records in isolation: ``/root/reference/src/services/
    quality_service.py`` has no cross-snapshot signal at all).

    Output per input row: ``(entity, ts, jaccard_prev, drift)`` where
    ``jaccard_prev`` is the whitespace-token-set Jaccard similarity to
    the entity's previous snapshot (NULL for the first snapshot — the
    NULL-vs-0 discipline: "no previous" is undefined, not "completely
    different") and ``drift = 1 − jaccard`` (both rounded to 6 dp from
    the same unrounded value — outputs only, never intermediates).

    Temporal contract: row at ``ts`` depends only on the snapshot
    strictly before ``ts`` — zero leakage by construction.

    Scale: tokenize ONCE per row at scan stage (JVM codegen), then a
    single ``lag`` moves the token ARRAY across the one entity
    exchange; Jaccard is ``array_intersect``/``size`` algebra — no
    UDF, no second pass over the text. Hot entities are bounded by
    snapshots-per-url exactly like every window here.
    """
    staged, j = _prev_jaccard(df, entity, ts, text, tiebreak)
    return staged.select(
        F.col(entity),
        F.col(ts),
        F.round(j, 6).alias("jaccard_prev"),
        F.round(F.lit(1.0) - j, 6).alias("drift"),
    )


def drift_summary(
    df: DataFrame,
    entity: str,
    ts: str,
    text: str,
    tiebreak: Sequence[str] | None = None,
) -> DataFrame:
    """Per-entity drift rollup over the full snapshot history: how MUCH
    does this url's content move per recrawl, and when was the biggest
    rewrite — the magnitude signal a recrawl scheduler pairs with
    ``change_rate_features``' cadence signal (see crawl.crawl_priority).

    Columns: ``n_snapshots``, ``mean_drift`` / ``max_drift`` (round 6;
    NULL for singleton histories), ``max_drift_ts`` — the ts of the
    largest drift, ties broken toward the EARLIEST ts under the
    6-dp-rounded drift so both engines pick the same snapshot.

    Scale: the drift window, the argmax window and the hash-agg are
    all keyed on the entity — one exchange shared by all three
    (windows sort once; AQE handles hot hosts).
    """
    staged, j = _prev_jaccard(df, entity, ts, text, tiebreak)
    drift = F.lit(1.0) - j
    rows = staged.select(
        F.col(entity), F.col(ts), drift.alias("_d"),
        F.round(drift, 6).alias("_d6"),
        *[F.col(c) for c in (tiebreak or [])],
    )
    agg = rows.groupBy(entity).agg(
        F.count(F.lit(1)).alias("n_snapshots"),
        F.round(F.avg("_d"), 6).alias("mean_drift"),
        F.round(F.max("_d"), 6).alias("max_drift"),
    )
    aw = Window.partitionBy(entity).orderBy(
        F.col("_d6").desc(), *_order_cols(ts, tiebreak)
    )
    arg = (
        rows.where(F.col("_d").isNotNull())
        .withColumn("_rn", F.row_number().over(aw))
        .where(F.col("_rn") == 1)
        .select(F.col(entity), F.col(ts).alias("max_drift_ts"))
    )
    return agg.join(arg, entity, "left")


def change_rate_features(
    df: DataFrame,
    entity: str,
    ts: str,
    content: str,
    tiebreak: Sequence[str] | None = None,
) -> DataFrame:
    """Per-entity content-churn features over snapshot history — the
    recrawl-scheduling signal (reference scores each record in
    isolation; a crawler needs to know how often each url's content
    actually changes to prioritize refresh budget).

    Per entity (url), ordered by ``(ts, *tiebreak)``:

    - ``n_snapshots`` — history length
    - ``n_changes``   — snapshots whose ``content`` differs from the
      previous one (null-safe compare: NULL→NULL is no change,
      NULL↔value is a change); the first snapshot never counts
    - ``change_rate`` — ``n_changes / (n_snapshots − 1)`` rounded to
      6 dp; NULL for singleton histories (undefined, not 0 — the
      NULL-vs-0 discipline of ranking_eval)
    - ``mean_gap_sec`` — mean seconds between consecutive snapshots
      (round 6; NULL for singletons)
    - ``last_change_ts`` — most recent ts whose content changed (NULL
      if the content never changed)

    One window + one hash-agg, both keyed on the entity — a single
    exchange; AQE handles hot-host skew like every entity window here.
    """
    w = entity_window(entity, ts, tiebreak)
    prev_c = F.lag(F.col(content)).over(w)
    prev_ts = F.lag(F.col(ts)).over(w)
    changed = F.when(prev_ts.isNull(), F.lit(False)).otherwise(
        ~F.col(content).eqNullSafe(prev_c)
    )
    staged = df.select(
        F.col(entity),
        F.col(ts).alias("_ts"),
        changed.alias("_chg"),
        (_epoch_seconds(F.col(ts)) - _epoch_seconds(prev_ts)).alias("_gap"),
    )
    n = F.count(F.lit(1))
    return staged.groupBy(entity).agg(
        n.alias("n_snapshots"),
        F.sum(F.col("_chg").cast("long")).alias("n_changes"),
        F.when(
            n > 1,
            F.round(
                F.sum(F.col("_chg").cast("double")) / (n - F.lit(1)), 6
            ),
        ).alias("change_rate"),
        F.round(F.avg("_gap"), 6).alias("mean_gap_sec"),
        F.max(F.when(F.col("_chg"), F.col("_ts"))).alias("last_change_ts"),
    )


def cumulative_distinct(
    df: DataFrame,
    entity: str | Sequence[str],
    ts: str,
    val_col: str,
    tiebreak: Sequence[str] | None = None,
    out_col: str = "n_distinct_seen",
) -> DataFrame:
    """Running count of DISTINCT ``val_col`` values each entity has
    exhibited up to and including each row — the breadth/novelty
    feature the level (ewma), direction (trend) and cadence
    (change_rate) features don't give: "this crawl has now served N
    distinct languages / content hashes / template ids", a direct
    input to exploration-vs-exploitation recrawl policies and bot
    detection (an entity that never repeats itself is a generator).

    NULL values never count; rows keep their NULL-valued positions
    with the running count carried through. Point-in-time safe by
    construction: row t's count uses rows with ``(ts, tiebreak) ≤
    (t, tiebreak_t)`` only.

    Execution shape, 100 TB lens: ``count(distinct) OVER`` doesn't
    exist (and a per-row set union would be quadratic state); the
    standard decomposition is two stacked windows — (1) a
    first-occurrence flag via ``row_number() = 1`` over
    ``(entity, value)``, (2) a running SUM of flags over ``entity``.
    Both windows hash-partition by entity-prefixed keys, so the
    second reuses the first's co-location up to the narrower key;
    per-entity history is the only sort state. No joins, no UDF,
    no per-row collections.
    """
    w_first = entity_window([*_entity_keys(entity), val_col], ts, tiebreak)
    w_cum = entity_window(entity, ts, tiebreak).rowsBetween(
        Window.unboundedPreceding, 0
    )
    flag = F.when(
        F.col(val_col).isNotNull()
        & (F.row_number().over(w_first) == 1),
        F.lit(1),
    ).otherwise(F.lit(0))
    return df.withColumn("_first_seen", flag).withColumn(
        out_col, F.sum("_first_seen").over(w_cum).cast("long")
    ).drop("_first_seen")


def snapshot_edit_distance(
    df: DataFrame,
    entity: str,
    ts: str,
    text: str,
    tiebreak: Sequence[str] | None = None,
    prefix: int = 256,
) -> DataFrame:
    """Character-level churn vs the previous snapshot — the
    ORDER-SENSITIVE companion of :func:`snapshot_drift` (token-set
    Jaccard is blind to within-token edits and to reorderings; a
    template that shuffles its nav links every crawl shows zero
    token drift but nonzero edit distance, and vice versa a single
    price digit flip is invisible to Jaccard at page scale but is
    exactly one edit).

    Output per input row: ``(entity, ts, n_chars, len_delta,
    editdist, edit_ratio)`` — full-text length and its delta vs the
    previous snapshot, Levenshtein distance between the two
    snapshots' first ``prefix`` characters, and the distance
    normalized by the longer compared prefix (6 dp). First snapshot
    per entity: NULLs (no-previous is undefined, not zero — the
    module's NULL-vs-0 discipline).

    Why a prefix cap: Levenshtein is O(a·b) per row and the lagged
    string crosses the entity exchange — ``prefix`` bounds both the
    CPU and the shuffle width to a constant (256² ≈ 65k cell DP per
    row, JVM codegen ``levenshtein``), which is what makes this
    viable at 10¹² rows. Character-exact churn beyond the prefix is
    what ``len_delta`` + the cheaper Jaccard are for.

    Oracle caveat (cross-engine): Spark's ``levenshtein`` counts
    codepoints, DuckDB's counts UTF-8 bytes — identical on ASCII
    only; the contract query ASCII-projects both sides first.
    """
    w = entity_window(entity, ts, tiebreak)
    head = F.substring(F.col(text), 1, prefix)
    staged = df.select(
        F.col(entity), F.col(ts),
        F.length(F.col(text)).cast("long").alias("n_chars"),
        head.alias("_head"),
        *[F.col(c) for c in (tiebreak or [])],
    )
    prev_head = F.lag("_head").over(w)
    prev_len = F.lag("n_chars").over(w)
    dist = F.levenshtein(prev_head, F.col("_head"))
    denom = F.greatest(
        F.length(prev_head), F.length("_head"), F.lit(1)
    )
    ratio = dist.cast("double") / denom.cast("double")
    return staged.select(
        F.col(entity),
        F.col(ts),
        F.col("n_chars"),
        (F.col("n_chars") - prev_len).cast("long").alias("len_delta"),
        dist.cast("long").alias("editdist"),
        F.round(ratio, 6).alias("edit_ratio"),
    )


def rolling_median(
    df: DataFrame,
    entity: str | Sequence[str],
    ts: str,
    col: str,
    n_rows: int,
    tiebreak: Sequence[str] | None = None,
    quantiles: Sequence[float] = (0.5,),
) -> DataFrame:
    """Exact trailing rolling quantiles over the previous ``n_rows``
    rows (inclusive) — the robust companion of :func:`rolling`'s
    mean: a rolling median shrugs off the single spiky snapshot that
    drags a rolling average, which is exactly what you want under
    web-crawl noise (one truncated fetch should not move a page's
    "typical size" feature).

    Adds one column per requested quantile:
    ``<col>_p<pct>_r<n_rows>`` (type-7/linear interpolation on the
    sorted trailing window — the numpy/DuckDB ``quantile_cont``
    convention — rounded 6 dp; NULL rows excluded from the window
    sample, output NULL when the trailing window holds no non-null
    values).

    Execution shape, 100 TB lens: ``percentile_cont`` has no frame
    support and a per-row UDF would leave codegen, so the window
    collects the trailing ≤ ``n_rows`` values (ONE bounded
    collect_list frame — state is capped by ``n_rows``, this is NOT
    an unbounded running collect) and the quantile is pure array
    algebra on the sorted copy. Cost O(n_rows log n_rows) per row,
    bounded by the caller's window choice; the entity exchange is
    the same single shuffle every window here shares. Keep
    ``n_rows`` modest (≤ a few hundred) — that is the operator's
    contract, same as the trailing-frame rolling aggregates.

    Cross-engine determinism: position arithmetic on exact BIGINTs,
    ONE fixed-order interpolation expression, micro-rounded.
    """
    if n_rows < 1:
        raise ValueError("n_rows must be >= 1")
    for q in quantiles:
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"quantile {q} outside [0, 1]")
    w = entity_window(entity, ts, tiebreak).rowsBetween(
        -(n_rows - 1), 0
    )
    vals = F.sort_array(
        F.filter(
            F.collect_list(F.col(col).cast("double")).over(w),
            lambda x: x.isNotNull(),
        )
    )
    out = df.withColumn("_vals", vals)
    m = F.size("_vals")
    added = {}
    for q in quantiles:
        # type-7: h = (m-1)*q; x = v[floor(h)+1]*(1-frac) + v[floor(h)+2]*frac
        h = (m - 1).cast("double") * F.lit(float(q))
        lo = F.floor(h).cast("int")
        frac = h - lo.cast("double")
        v_lo = F.try_element_at(F.col("_vals"), lo + 1)
        v_hi = F.coalesce(
            F.try_element_at(F.col("_vals"), lo + 2), v_lo
        )
        x = v_lo * (F.lit(1.0) - frac) + v_hi * frac
        pct = str(int(round(q * 100)))
        name = f"{col}_p{pct}_r{n_rows}"
        added[name] = F.when(m >= 1, F.round(x, 6))
    return out.withColumns(added).drop("_vals")
