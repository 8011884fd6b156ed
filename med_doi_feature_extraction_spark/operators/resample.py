"""Time-grid resampling and gap-fill: regularize an irregular
entity×timestamp stream onto a fixed-frequency grid.

Crawl snapshots, events, and metric streams arrive at irregular
timestamps; most downstream feature consumers (sequence models,
rolling dashboards, horizon labels) want one row per (entity, grid
cell) with explicit gap rows. The reference has no such operator (its
loop is per-record); this fills the same north-rule family as
backfill/lag/sessionize in ``operators/windows.py``.

Three stages, all built-in Column algebra:

1. **bin**: truncate ``ts`` to ``floor(epoch/freq)*freq`` and
   aggregate each (entity, cell) with caller-supplied exprs — a
   partial-agg-friendly groupBy (map-side combine absorbs dense
   cells before the shuffle).
2. **grid**: per entity, ``sequence(min_cell, max_cell, freq)`` +
   ``explode`` generates the complete cell range — one slim row per
   entity in, span/freq rows out, no driver involvement. Each
   entity's grid spans ITS OWN [min, max] (no global range, so one
   long-lived entity doesn't inflate every other entity's grid).
3. **fill**: left-join aggregates onto the grid (same key as the
   groupBy — AQE coalesces, and at 100 TB the join is shuffle-free
   if both sides inherit the stage-1 partitioning), mark gap rows
   ``is_gap``, and forward-fill requested columns with
   ``last(ignorenulls)`` over the entity window.

Leakage contract: forward-fill only looks backward (rows ≤ current
cell), consistent with ``operators/windows.py``.

Scale notes: the expensive shuffle is stage 1's groupBy on
(entity, cell) — the time component diffuses hot entities across
reducers exactly like the bucketized interval join
(``operators/ranges.py``). The grid explode is bounded by
span/freq per entity; a pathological entity spanning the whole
corpus epoch at 1s frequency would explode to years-of-seconds rows —
choose ``freq_sec`` for the cadence you serve, or pre-filter the
time range. The ffill window re-shuffles on entity alone; at scale
prefer bucketed layouts (``sources/catalog.py``) to make it
exchange-free, as ``windows_asof_bucketed`` demonstrates.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from med_doi_feature_extraction_spark.operators.windows import _epoch_seconds


def resample(
    df: DataFrame,
    entity: str,
    ts: str,
    freq_sec: int,
    aggs: Mapping[str, Column],
    ffill_cols: Sequence[str] | None = None,
    cell_col: str = "cell_ts",
) -> DataFrame:
    """One row per (entity, ``freq_sec``-aligned grid cell) from the
    entity's first observed cell to its last, with ``is_gap`` marking
    cells that had no input rows.

    ``aggs``: output name → aggregate Column over the rows in the
    cell (e.g. ``{"v_sum": F.sum("value"), "n": F.count("*")}``).
    ``ffill_cols``: subset of ``aggs`` names to forward-fill across
    gaps into ``<name>_ffill`` (backward-looking only).
    ``cell_col``: name of the emitted grid-cell timestamp column.
    """
    epoch = _epoch_seconds(F.col(ts))
    cell_sec = (F.floor(epoch / freq_sec) * freq_sec).cast("long")
    binned = (
        df.withColumn("_cell_sec", cell_sec)
        .groupBy(entity, "_cell_sec")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            *[a.alias(name) for name, a in aggs.items()],
        )
    )
    span = binned.groupBy(entity).agg(
        F.min("_cell_sec").alias("_lo"), F.max("_cell_sec").alias("_hi")
    )
    grid = span.select(
        entity,
        F.explode(
            F.sequence(F.col("_lo"), F.col("_hi"), F.lit(freq_sec))
        ).alias("_cell_sec"),
    )
    # gap detection keys off the row count, not an agg value (an
    # all-null-input aggregate is NULL even when the cell has rows)
    out = (
        grid.join(binned, [entity, "_cell_sec"], "left")
        .withColumn("is_gap", F.col("_n").isNull())
        .withColumn("n_rows", F.coalesce(F.col("_n"), F.lit(0)))
        .drop("_n")
    )
    w = (
        Window.partitionBy(entity)
        .orderBy("_cell_sec")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for name in ffill_cols or []:
        out = out.withColumn(
            f"{name}_ffill", F.last(name, ignorenulls=True).over(w)
        )
    return out.withColumn(
        cell_col, F.col("_cell_sec").cast("timestamp")
    ).drop("_cell_sec")
