"""Filter-funnel attribution: WHICH gate dropped each document, and
the per-stage entering/dropped/surviving funnel table.

The reference applies its quality gates record-at-a-time and logs each
verdict individually (``/root/reference/src/services/
quality_service.py`` — validate → blend → threshold per record); a
corpus-scale curation pipeline needs the aggregate view instead: an
ordered gate cascade evaluated in ONE scan, per-row first-failed
attribution, and the funnel summary that tells you which gate is
eating your corpus before you commit to a full run.

Gate semantics: a stage predicate must be affirmatively TRUE to pass —
NULL counts as a fail (unknown is not a pass), matching the keep
verdicts of c4rules/gopher. ``first_failed`` is the FIRST stage (in
the given order) whose predicate fails, NULL for survivors; later
stages are not blamed for rows an earlier stage already dropped, so
per-stage counts attribute each loss to exactly one gate.

Scale: the audit is a scan-stage projection (whole-stage codegen, all
predicates evaluated in one pass over the corpus — no per-stage
passes, no UDFs, zero shuffles). The summary adds ONE hash-agg keyed
on ``first_failed`` — cardinality ≤ n_stages+1, partial aggregation
absorbs everything map-side — then joins/windows over the resulting
≤ n_stages+1-row frame, which is negligible at any corpus size.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from med_doi_feature_extraction_spark.kernels.fixed import fixed_abs

def _first_failed(stages: Sequence[tuple[str, Column]]) -> Column:
    """First-match CASE over the ordered gates (engine-portable: the
    DuckDB twin is the identical ``CASE WHEN NOT coalesce(p, false)``
    chain)."""
    if not stages:
        raise ValueError("funnel needs at least one stage")
    return F.coalesce(
        *[
            F.when(~F.coalesce(pred, F.lit(False)), F.lit(name))
            for name, pred in stages
        ]
    )


def funnel_audit(
    df: DataFrame,
    stages: Sequence[tuple[str, Column]],
) -> DataFrame:
    """Per-row gate attribution: all input columns plus
    ``first_failed`` (name of the first failing stage, NULL for
    survivors) and ``kept``. One codegen projection — evaluating N
    gates costs one corpus scan, not N."""
    ff = _first_failed(stages)
    return df.select(
        "*",
        ff.alias("first_failed"),
        ff.isNull().alias("kept"),
    )


def funnel_survivors(
    df: DataFrame,
    stages: Sequence[tuple[str, Column]],
) -> DataFrame:
    """Rows passing every gate — the curation filter composition as a
    single conjunction at the scan (predicate-pushdown friendly)."""
    keep = F.lit(True)
    for _, pred in stages:
        keep = keep & F.coalesce(pred, F.lit(False))
    return df.where(keep)


def funnel_summary(
    df: DataFrame,
    stages: Sequence[tuple[str, Column]],
) -> DataFrame:
    """Per-stage funnel table ``(stage_idx, stage, entering, dropped,
    surviving)`` in stage order: ``entering`` = rows reaching the
    gate, ``dropped`` = rows whose FIRST failure is this gate,
    ``surviving = entering − dropped`` (the next stage's entering).

    One corpus hash-agg on ``first_failed`` (≤ n_stages+1 groups);
    the join against the stage list, the 1-row total and the cumsum
    window all operate on that tiny aggregated frame.
    """
    spark = df.sparkSession
    counts = (
        df.select(_first_failed(stages).alias("first_failed"))
        .groupBy("first_failed")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    stage_df = spark.createDataFrame(
        [(i, name) for i, (name, _) in enumerate(stages)],
        "stage_idx: int, stage: string",
    )
    total = counts.agg(
        F.coalesce(F.sum("_n"), F.lit(0)).alias("_total")
    )
    joined = (
        stage_df.join(
            counts, stage_df.stage == counts.first_failed, "left"
        )
        .select(
            "stage_idx",
            "stage",
            F.coalesce(F.col("_n"), F.lit(0)).alias("dropped"),
        )
        .crossJoin(F.broadcast(total))
    )
    before = Window.orderBy("stage_idx").rowsBetween(
        Window.unboundedPreceding, -1
    )
    entering = F.col("_total") - F.coalesce(
        F.sum("dropped").over(before), F.lit(0)
    )
    return joined.select(
        "stage_idx",
        "stage",
        entering.alias("entering"),
        "dropped",
        (entering - F.col("dropped")).alias("surviving"),
    )


def session_funnel(
    df: DataFrame,
    session_cols: Sequence[str],
    ts: str,
    type_col: str,
    stages: Sequence[str],
) -> DataFrame:
    """ORDERED in-session conversion funnel — the temporal complement
    of the gate funnel above: per session, how deep did the visitor
    get through ``stages`` IN ORDER? Stage k counts as reached only
    if an event of its type occurs at-or-after the time stage k−1
    was first reached (ties convert: a same-timestamp pair is a
    conversion — the portable choice, no tiebreak column needed).
    Stage 1's "prior time" is the session start, so any occurrence
    counts.

    One row per session: ``*session_cols, t_<stage>`` (first
    qualifying timestamp per stage, NULL once the chain breaks) and
    ``funnel_depth`` (number of stages reached, 0..len(stages)).
    Compose with :func:`~.windows.sessionize` to derive the session
    key from a gap rule.

    Execution shape, 100 TB lens: ONE corpus hash-agg per session
    collecting a sorted per-stage timestamp array (bounded by
    session length — sessions are gap-bounded by construction), then
    the sequential-match recurrence is pure Column array algebra
    (``try_element_at(filter(arr, e -> e >= prev), 1)`` —
    NULL, not an ANSI error, when the chain breaks) on the
    session-grain frame. No windows, no joins, no re-scans per
    stage, no UDFs.
    """
    if not stages:
        raise ValueError("session_funnel needs at least one stage")
    aggs = [
        F.sort_array(
            F.collect_list(
                F.when(F.col(type_col) == s, F.col(ts))
            )
        ).alias(f"_arr_{i}")
        for i, s in enumerate(stages)
    ]
    per = df.groupBy(*session_cols).agg(*aggs)
    cols = list(session_cols)
    out = per
    prev: Column | None = None
    t_cols = []
    for i, s in enumerate(stages):
        arr = F.col(f"_arr_{i}")
        if prev is None:
            t = F.try_element_at(arr, F.lit(1))
        else:
            t = F.try_element_at(
                F.filter(arr, lambda e: e >= prev), F.lit(1)
            )
        name = f"t_{s}"
        out = out.withColumn(name, t)
        prev = F.col(name)
        t_cols.append(name)
    depth = F.coalesce(
        *[
            F.when(
                F.col(t_cols[k]).isNotNull(), F.lit(k + 1)
            )
            for k in range(len(t_cols) - 1, -1, -1)
        ],
        F.lit(0),
    ).cast("int")
    return out.select(*cols, *t_cols, depth.alias("funnel_depth"))


def session_funnel_summary(
    per_session: DataFrame, stages: Sequence[str]
) -> DataFrame:
    """Stage table from a :func:`session_funnel` frame: one row per
    stage with ``stage_idx, stage, n_reached, conv_from_start,
    conv_from_prev`` (6 dp rates; ``conv_from_prev`` of stage 1 is
    vs all sessions). ONE 1-row conditional aggregate over the
    session-grain frame (``n_k = Σ[depth ≥ k]``), exploded to
    ≤ len(stages) rows — no joins, no windows.
    """
    k = len(stages)
    aggs = [
        F.count(F.lit(1)).cast("long").alias("_n0"),
        *[
            F.sum(
                F.when(F.col("funnel_depth") >= i + 1, 1).otherwise(0)
            )
            .cast("long")
            .alias(f"_n{i + 1}")
            for i in range(k)
        ],
    ]
    row = per_session.agg(*aggs)

    def _rate(num: Column, den: Column) -> Column:
        r = F.when(
            den > 0, num.cast("double") / den.cast("double")
        )
        return F.when(r.isNull(), F.lit(None)).otherwise(fixed_abs(r) / 1e6)

    structs = [
        F.struct(
            F.lit(i + 1).alias("stage_idx"),
            F.lit(s).alias("stage"),
            F.col(f"_n{i + 1}").alias("n_reached"),
            _rate(F.col(f"_n{i + 1}"), F.col("_n0")).alias(
                "conv_from_start"
            ),
            _rate(F.col(f"_n{i + 1}"), F.col(f"_n{i}")).alias(
                "conv_from_prev"
            ),
        )
        for i, s in enumerate(stages)
    ]
    return row.select(
        F.explode(F.array(*structs)).alias("_s")
    ).select("_s.*")
