"""Slowly-changing-dimension (SCD type-2) interval building and
run collapsing over entity×timestamp change streams.

The as-of join (``operators/asof.py``) answers "what was the latest
dimension value at time t" from a RAW snapshot stream; warehouses
instead materialize the dimension as validity intervals
``[valid_from, valid_to)`` — one row per value RUN — because the
interval table is smaller (consecutive identical snapshots collapse)
and point-in-time lookup becomes an interval join
(``operators/ranges.interval_join``). This module builds that table:

* ``scd2``: each snapshot row becomes an interval closing at the next
  snapshot's timestamp (``lead`` over the entity window; the last row
  stays open with ``valid_to`` NULL, or ``end_of_time`` if given).
* ``collapse_runs``: gaps-and-islands — consecutive snapshots whose
  tracked attributes are unchanged merge into ONE interval. Run ids
  are the classic two-window construction: flag rows whose tracked
  values differ from their predecessor (``lag``), cumulative-sum the
  flags to number the runs, then aggregate each run to
  ``[min(ts), lead-of-run)``. Three Window passes + one groupBy, all
  over the SAME entity partitioning — Catalyst plans a single
  Exchange on the entity key feeding every window and the final
  aggregate (verify: one Exchange in ``explain``).

Zero-leakage: ``valid_from`` is the observation timestamp itself;
an interval join of facts at time t against the output only ever
reads snapshots with ``valid_from <= t`` — the same contract the
as-of join enforces, in materialized form.

Scale notes: one shuffle on the entity key, same as every window
operator here; hot entities are bounded by snapshots-per-url. The
output is strictly smaller than the input (collapse is a per-run
aggregate with partial agg). NULL attribute values are handled with
null-safe equality (``eqNullSafe``) so NULL→NULL is "unchanged" and
NULL→value starts a new run.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from med_doi_feature_extraction_spark.operators.windows import (
    _entity_keys,
    entity_window,
)


def scd2(
    df: DataFrame,
    entity: str | Sequence[str],
    ts: str,
    tiebreak: Sequence[str] | None = None,
    end_of_time: str | None = None,
    from_col: str = "valid_from",
    to_col: str = "valid_to",
) -> DataFrame:
    """Close each snapshot's validity at the NEXT snapshot of the same
    entity: adds ``valid_from`` (= ``ts``) and ``valid_to`` (= next
    ``ts``, half-open; NULL — or ``end_of_time`` if given — for the
    current row)."""
    w = entity_window(entity, ts, tiebreak)
    out = df.withColumn(from_col, F.col(ts)).withColumn(
        to_col, F.lead(ts).over(w)
    )
    if end_of_time is not None:
        out = out.withColumn(
            to_col, F.coalesce(F.col(to_col), F.lit(end_of_time).cast("timestamp"))
        )
    return out


def collapse_runs(
    df: DataFrame,
    entity: str | Sequence[str],
    ts: str,
    tracked: Sequence[str],
    tiebreak: Sequence[str] | None = None,
    end_of_time: str | None = None,
    from_col: str = "valid_from",
    to_col: str = "valid_to",
    count_col: str = "n_snapshots",
) -> DataFrame:
    """Collapse consecutive snapshots with unchanged ``tracked``
    attributes into one validity interval per run.

    Output: entity keys + ``tracked`` + ``[from_col, to_col)`` +
    ``count_col`` (snapshots merged into the run). ``to_col`` is the
    first timestamp of the NEXT run (half-open; NULL or
    ``end_of_time`` for the live run) — intervals per entity tile the
    timeline from its first snapshot with no gaps or overlaps.
    NULL-safe comparison: a NULL attribute equal to the predecessor's
    NULL does not break the run."""
    part = _entity_keys(entity)
    w = entity_window(entity, ts, tiebreak)

    changed: Column = F.lit(False)
    for c in tracked:
        changed = changed | ~F.col(c).eqNullSafe(F.lag(c).over(w))
    # first row of an entity: lag(c) is NULL, and eqNullSafe(NULL, NULL)
    # would read a leading NULL attribute as "unchanged" — force the
    # run start explicitly (lag of a literal is NULL exactly there)
    is_start = F.lag(F.lit(1)).over(w).isNull() | changed
    runs = df.withColumn(
        "_run", F.sum(is_start.cast("long")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
    )
    collapsed = runs.groupBy(*part, "_run", *tracked).agg(
        F.min(ts).alias(from_col), F.count(F.lit(1)).alias(count_col)
    )
    w_run = Window.partitionBy(*part).orderBy(F.col("_run").asc())
    out = collapsed.withColumn(to_col, F.lead(from_col).over(w_run)).drop("_run")
    if end_of_time is not None:
        out = out.withColumn(
            to_col, F.coalesce(F.col(to_col), F.lit(end_of_time).cast("timestamp"))
        )
    return out
