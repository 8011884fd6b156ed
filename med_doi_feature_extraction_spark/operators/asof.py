"""Point-in-time (as-of) join engine — the north-rule centerpiece.

Semantics (fixed contract, FIXTURES.md F3): for each left row
``(key, ts_left)`` attach the columns of the single right row with the
same key and the greatest ``ts_right <= ts_left`` (backward as-of,
latest-wins). Ties among right rows at the same ``ts_right`` break by
``right_tiebreak`` DESC (deterministic). Left rows with no qualifying
right row get nulls. Matches ``pandas.merge_asof(direction=
'backward')`` and DuckDB ``ASOF JOIN``.

Two independent builds (cross-checked against each other in tests):

1. The union-and-window build, written once in ``_asof_core``: tag +
   unionByName of the spine and N named sources, one Window per key
   ordered by (ts, side), one ``last(ignorenulls)`` match struct per
   source and direction, keep the spine rows. No theta join, no O(n²):
   one shuffle on key, one sort per direction. This is the pure-SQL
   cross-check build (SURVEY.md J5a). ``asof_join_window`` supplies one
   tie-deduped source and reads it backward, forward or nearest;
   ``asof_join_horizons`` the same source read backward through N
   freshness predicates; ``feature_matrix`` one source per feature with
   ``<name>__ts`` provenance. ``_age`` is the one staleness rule.

2. ``asof_join_sorted`` — ``applyInPandas`` over hash buckets of keys
   running a vectorized ``pd.merge_asof`` per bucket (SURVEY.md J5b).
   Buckets (not raw keys) bound task count; optional ``salt_factor``
   splits the LEFT side of hot buckets into sub-tasks and replicates
   the right side per salt — output is invariant to the salt factor
   (property-tested). AQE skew-join is the second line of defense for
   the window build.

At 100 TB: both builds shuffle each side exactly once on (bucket) /
(key); the window build additionally sorts within partitions. Prefer
build 2 when the right side is small relative to left (replication is
cheap); build 1 when both sides are huge (no replication at all).
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from med_doi_feature_extraction_spark.operators.windows import _epoch_seconds


def _asof_core(
    spine: DataFrame,
    on: str,
    spine_ts: str,
    sources: dict[str, tuple[DataFrame, str, list[Column]]],
    carry_ts: bool,
    backward: bool = True,
    forward: bool = False,
) -> tuple[DataFrame, list[str]]:
    """The one union-and-window as-of match: spine rows with a
    ``_b_<name>`` (greatest ``ts <=`` spine ts) and/or ``_f_<name>``
    (least ``ts >=``) match struct per source, plus the temp columns
    to drop. A source's ``fields`` (and its raw ``ts`` as
    ``__match_ts`` when ``carry_ts``) ride in ONE struct, so a matched
    row with a NULL value field stays the match (the struct is
    non-null) instead of that field falling back to an older row. The
    forward window re-sorts the partition descending (no extra
    shuffle)."""
    out = spine.withColumns({"_ts": F.col(spine_ts), "_side": F.lit(1)})
    for name, (df, ts, fields) in sources.items():
        if carry_ts:
            fields = [*fields, F.col(ts).alias("__match_ts")]
        out = out.unionByName(
            df.select(
                F.col(on),
                F.col(ts).alias("_ts"),
                F.lit(0).alias("_side"),
                F.struct(*fields).alias(f"_s_{name}"),
            ),
            allowMissingColumns=True,
        )
    temps = ["_ts", "_side", *(f"_s_{n}" for n in sources)]
    # Source rows sort BEFORE spine rows at equal ts (side 0 < 1) in
    # both directions, so an observation at exactly the spine ts is in
    # the frame (<= backward, >= forward: exact matches allowed).
    orders = [("_b", F.col("_ts").asc())] if backward else []
    if forward:
        orders.append(("_f", F.col("_ts").desc()))
    for tag, ts_order in orders:
        w = (
            Window.partitionBy(on)
            .orderBy(ts_order, F.col("_side").asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        for name in sources:
            out = out.withColumn(
                f"{tag}_{name}",
                F.last(f"_s_{name}", ignorenulls=True).over(w),
            )
            temps.append(f"{tag}_{name}")
    return out.filter(F.col("_side") == 1), temps


def _age(match: Column) -> Column:
    """Spine ts minus the match's ``__match_ts`` in fractional seconds
    (positive for a backward match, negative for a forward one; NULL
    when there is no match).

    TIMESTAMP_NTZ has no direct double cast; go via TIMESTAMP
    (session TZ pinned UTC, value preserved) keeping fractional
    seconds. Numeric ts types pass through both casts unchanged."""

    def secs(c: Column) -> Column:
        return c.cast("timestamp").cast("double")

    return secs(F.col("_ts")) - secs(match["__match_ts"])


def _tie_deduped(
    right: DataFrame,
    on: str,
    right_ts: str,
    value_cols: Sequence[str],
    right_tiebreak: Sequence[str] | None,
) -> dict[str, tuple[DataFrame, str, list[Column]]]:
    """The one source of the single-table builds. Its ties at equal
    ``(on, right_ts)`` are resolved by ``right_tiebreak`` DESC BEFORE the
    union with a row_number window on the RIGHT side only — that
    exchange moves the (small) dim side, keeping the big union
    window's sort keys to exactly ``(_ts, _side)``. (Folding the
    tiebreak into the union window's sort order was measured 13%
    slower on the 7.7M-row scaling table: it widens the large sort
    with a string key to spare a small-side shuffle.)"""
    tb = [F.col(c).desc() for c in (right_tiebreak or [])]
    w_tie = Window.partitionBy(on, right_ts).orderBy(*(tb or [F.lit(1)]))
    deduped = (
        right.withColumn("_rn", F.row_number().over(w_tie))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return {"r": (deduped, right_ts, [F.col(c) for c in value_cols])}


def asof_join_window(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str],
    right_tiebreak: Sequence[str] | None = None,
    tolerance_sec: float | None = None,
    direction: str = "backward",
) -> DataFrame:
    """Union-and-window as-of join (pure built-ins).

    ``direction`` follows ``pandas.merge_asof``: ``"backward"``
    (default — greatest ``ts_right <= ts_left``), ``"forward"``
    (least ``ts_right >= ts_left``), or ``"nearest"`` (smaller
    absolute gap of the two; a tie prefers the backward match, which
    is pandas' tie rule). Exact matches are always allowed.

    ``tolerance_sec`` bounds match staleness (pandas
    ``merge_asof(tolerance=...)`` semantics): a right row older than
    ``left_ts - tolerance_sec`` is no match — the value columns come
    back NULL, exactly as if no right row existed. For ``forward`` /
    ``nearest`` the bound applies to the gap in the match's own
    direction. Timestamps compare via a fractional-seconds double
    cast, so sub-second tolerances work.

    Right-side ties at equal ``ts_right`` are resolved before the
    union (``_tie_deduped``); the value columns all come from the SAME
    best-matching right row, a NULL value included (``_asof_core``).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown as-of direction: {direction!r}")
    out, temps = _asof_core(
        left, on, left_ts,
        _tie_deduped(right, on, right_ts, value_cols, right_tiebreak),
        carry_ts=(tolerance_sec is not None) or direction == "nearest",
        backward=direction != "forward",
        forward=direction != "backward",
    )
    b, f = F.col("_b_r"), F.col("_f_r")
    tol = None if tolerance_sec is None else F.lit(float(tolerance_sec))
    if direction == "nearest":
        bgap, fgap = _age(b), -_age(f)
        bok, fok = bgap.isNotNull(), fgap.isNotNull()
        if tol is not None:
            bok, fok = bok & (bgap <= tol), fok & (fgap <= tol)
        # tie (bgap == fgap) prefers backward — pandas' nearest rule
        use_b = bok & (~fok | (bgap <= fgap))
        vals = {c: F.when(use_b, b[c]).when(fok, f[c]) for c in value_cols}
    else:
        m, gap = (b, _age(b)) if direction == "backward" else (f, -_age(f))
        vals = {
            c: m[c] if tol is None else F.when(gap <= tol, m[c])
            for c in value_cols
        }
    return out.withColumns(vals).drop(*temps)


def asof_join_horizons(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str],
    horizons: dict[str, float],
    right_tiebreak: Sequence[str] | None = None,
) -> DataFrame:
    """ONE as-of pass, N staleness tiers: for every horizon ``name →
    max_age_sec`` emit ``{col}_{name}`` — the backward-matched value
    if (and only if) the match is no staler than ``max_age_sec``.

    Freshness-tiered features (the same dim value at 1 h / 1 d / 1 w
    tolerance) are the standard way to expose recency to a model
    without leaking the future; doing it as N tolerance joins would
    pay the big-side union sort N times, while here the match is
    found ONCE and the tiers are plain column predicates on the
    carried match timestamp.
    """
    if not horizons:
        raise ValueError("horizons must be a non-empty {name: seconds} map")
    out, temps = _asof_core(
        left, on, left_ts,
        _tie_deduped(right, on, right_ts, value_cols, right_tiebreak),
        carry_ts=True,
    )
    m = F.col("_b_r")
    return out.withColumns(
        {
            f"{c}_{name}": F.when(_age(m) <= F.lit(float(secs)), m[c])
            for name, secs in horizons.items()
            for c in value_cols
        }
    ).drop(*temps)


def asof_join_sorted(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str],
    right_tiebreak: Sequence[str] | None = None,
    num_buckets: int = 32,
    salt_factor: int = 1,
    tolerance_sec: float | None = None,
    direction: str = "backward",
) -> DataFrame:
    """Bucketed sort-merge as-of join via ``applyInPandas`` +
    ``pd.merge_asof`` (vectorized; matches per-key reference semantics
    exactly).

    ``salt_factor > 1`` splits each bucket's LEFT rows into
    ``salt_factor`` groups (hot-bucket mitigation) and replicates the
    bucket's right rows into every group. ``tolerance_sec`` bounds
    match staleness (maps straight onto ``merge_asof``'s native
    ``tolerance``; matches ``asof_join_window``'s semantics).
    ``direction`` maps onto ``merge_asof``'s own backward / forward /
    nearest — tie rules agree with ``asof_join_window`` by
    construction (both are pandas').
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown as-of direction: {direction!r}")
    left_cols = left.columns
    out_fields = [left.schema[c] for c in left_cols] + [
        right.schema[c] for c in value_cols
    ]
    from pyspark.sql.types import StructType

    out_schema = StructType(out_fields)

    tb = list(right_tiebreak or [])
    tb_extra = [c for c in tb if c not in {on, right_ts, *value_cols}]
    bucket = F.pmod(F.xxhash64(F.col(on)), F.lit(num_buckets)).alias("_bucket")

    l = left.select("*", bucket)
    r = right.select(
        on, right_ts, *tb_extra, *value_cols, bucket
    )
    if salt_factor > 1:
        l = l.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col(on), F.col(left_ts)), F.lit(salt_factor))
        )
        r = r.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_factor - 1)))
        )
        group_keys = ["_bucket", "_salt"]
    else:
        group_keys = ["_bucket"]

    l_tagged = l.withColumn("_is_left", F.lit(True))
    r_tagged = r.withColumn("_is_left", F.lit(False))
    both = l_tagged.unionByName(r_tagged, allowMissingColumns=True)

    def merge_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        # The union frame carries both sides' columns (nulls across);
        # project each side back to its own columns first.
        lp = pdf.loc[pdf["_is_left"], left_cols].copy()
        rp = pdf.loc[~pdf["_is_left"], [on, right_ts] + tb_extra + list(value_cols)].copy()
        if lp.empty:
            return pd.DataFrame(columns=left_cols + list(value_cols))
        if rp.empty:
            out = lp[left_cols].copy()
            for c in value_cols:
                out[c] = None
            return out
        # Resolve right ties: latest-wins by (ts, tiebreak) — keep last
        # after a stable sort ascending.
        rp = rp.sort_values([right_ts] + tb, kind="stable")
        rp = rp.drop_duplicates(subset=[on, right_ts], keep="last")
        lp = lp.sort_values([left_ts], kind="stable")
        rp = rp.sort_values([right_ts], kind="stable")
        tol = None
        if tolerance_sec is not None:
            tol = (
                pd.Timedelta(seconds=tolerance_sec)
                if pd.api.types.is_datetime64_any_dtype(lp[left_ts])
                else tolerance_sec
            )
        merged = pd.merge_asof(
            lp,
            rp[[on, right_ts] + list(value_cols)].rename(columns={right_ts: "_rts"}),
            left_on=left_ts,
            right_on="_rts",
            by=on,
            direction=direction,
            allow_exact_matches=True,
            tolerance=tol,
        )
        return merged[left_cols + list(value_cols)]

    result = both.groupBy(*group_keys).applyInPandas(merge_bucket, schema=out_schema)
    return result


def feature_matrix(
    labels: DataFrame,
    features: "dict[str, tuple[DataFrame, str, str]]",
    on: str,
    label_ts: str,
    tolerance_sec: float | None = None,
    emit_match_ts: bool = False,
) -> DataFrame:
    """Point-in-time training-matrix assembly: attach N feature tables
    to a label spine in ONE union + ONE entity window — the
    feature-store pattern built on the union-and-window as-of engine.

    ``emit_match_ts=True`` adds a ``<name>__ts`` provenance column per
    feature (the timestamp of the matched observation, NULL when there
    is no fresh match) so downstream audits can PROVE the leakage contract
    on the materialized matrix (``leakage_audit``) instead of trusting
    the join.

    ``features`` maps output column name → ``(df, ts_col, value_col)``;
    each label row ``(entity, label_ts)`` gets, per feature, the value
    of that feature's latest row with ``ts <= label_ts`` (backward
    as-of, exact matches allowed), NULL when none exists — zero
    temporal leakage by construction, the same contract as
    ``asof_join_window``. ``tolerance_sec`` bounds staleness per
    feature (a match older than ``label_ts − tolerance`` reverts to
    NULL, its provenance too), compared on fractional-second doubles
    like the single-table build.

    Why not N ``asof_join_window`` calls: each call shuffles the spine
    on the entity key again — N feature tables cost N+1 exchanges and
    N sorts of the (large) label spine. Here every feature table is
    one source of ONE union, so the whole matrix costs a single
    exchange on ``on`` and a single sort of ``(_ts, _side)``, with one
    ``last(ignorenulls)`` per feature running over the same sorted
    partition — the per-feature cost is a column, not a shuffle. A
    feature row whose value is NULL still wins its as-of match.

    Ties: rows of the SAME feature at equal ``(on, ts)`` are not
    disambiguated here — pre-dedupe with ``windows.dedupe_latest``
    (the contract fixture aggregates to unique (entity, ts) first).
    """
    if not features:
        raise ValueError("feature_matrix needs at least one feature")
    out, temps = _asof_core(
        labels, on, label_ts,
        {
            name: (fdf, ts_col, [F.col(val_col).alias("v")])
            for name, (fdf, ts_col, val_col) in features.items()
        },
        carry_ts=tolerance_sec is not None or emit_match_ts,
    )
    keep = {}
    for name in features:
        m = F.col(f"_b_{name}")
        cols = {name: m["v"]}
        if emit_match_ts:
            cols[f"{name}__ts"] = m["__match_ts"]
        if tolerance_sec is not None:
            fresh = _age(m) <= F.lit(float(tolerance_sec))
            cols = {k: F.when(fresh, c) for k, c in cols.items()}
        keep.update(cols)
    return out.withColumns(keep).drop(*temps)


def leakage_audit(
    matrix: DataFrame,
    label_ts: str,
    feature_ts_cols: Sequence[str],
) -> DataFrame:
    """Temporal-leakage audit over a MATERIALIZED feature matrix: per
    provenance column, ``(feature, n_rows, n_matched, n_leaks,
    max_lead_sec)`` where a leak is an observation timestamp STRICTLY
    AFTER the label timestamp — the data-contract check that proves
    the zero-leakage property on the artifact itself (train-time
    joins drift; the audit runs on what the model actually reads).
    Pair with ``feature_matrix(..., emit_match_ts=True)``'s
    ``<name>__ts`` columns, or any feature store's provenance.

    ``n_matched`` counts non-NULL provenance; ``max_lead_sec`` is the
    worst future-peek in whole seconds (NULL when the feature is
    clean). One codegen ``stack`` unpivot + one hash-agg on the
    n_features-ary feature key — a single corpus scan regardless of
    how many features are audited.
    """
    if not feature_ts_cols:
        raise ValueError("need at least one feature ts column")
    pairs = ", ".join(f"'{c}', `{c}`" for c in feature_ts_cols)
    melted = matrix.select(
        F.col(label_ts).alias("_lts"),
        F.expr(
            f"stack({len(feature_ts_cols)}, {pairs}) AS (feature, _ots)"
        ),
    )
    leak = F.col("_ots") > F.col("_lts")
    lead_sec = _epoch_seconds(F.col("_ots")) - _epoch_seconds(F.col("_lts"))
    return melted.groupBy("feature").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("_ots").alias("n_matched"),
        F.sum(F.when(leak, 1).otherwise(0)).alias("n_leaks"),
        F.max(F.when(leak, lead_sec)).alias("max_lead_sec"),
    )
