"""Bucketized interval (range) joins: point-in-interval and
interval-overlap, without a cartesian product.

The reference joins rows only by exact key (``src/services/
retry_service.py`` point lookups); the north-rule engine needs the
temporal-join family, and after the as-of join (``operators/asof.py``)
the next member is the interval join: match each point row to every
interval row with ``start <= ts < end`` (attribution windows, crawl
outage windows, labeling spans). A naive implementation is a non-equi
join — Spark plans it as BroadcastNestedLoopJoin or a cartesian
product, both of which die at web scale when neither side is small.

Bucketization turns it into an EQUI join (the manual form of the
range-join optimization Databricks ships natively, and the classic
"grid the time axis" trick from spatial joins):

* pick a bucket width ``W`` seconds;
* a point at epoch ``p`` lives in bucket ``floor(p / W)``;
* an interval ``[s, e)`` is exploded to every bucket it covers,
  ``sequence(floor(s/W), floor(e/W))`` — ``ceil(span/W) + 1`` rows;
* equi-join on (keys..., bucket), then re-check the exact predicate
  ``start <= ts AND ts < end`` on the original timestamps.

Correctness: a matching pair shares the point's bucket (coverage is a
superset: ``s <= p < e`` implies ``floor(s/W) <= floor(p/W) <=
floor(e/W)``), and the interval visits each bucket exactly once, so
each pair appears exactly once — no DISTINCT pass needed. For the
interval-overlap variant, a pair CAN share several buckets; it is kept
only in the canonical bucket ``max(floor(sa/W), floor(sb/W))`` (the
first bucket where both intervals are live), again exactly once.

Scale notes
-----------
* The shuffle key is (keys..., bucket) — a hot entity's rows spread
  over its time buckets instead of hammering one reducer, the same
  skew-diffusion the salted as-of join gets from explicit salt, but
  derived from the data. Residual skew (one entity × one bucket)
  falls to AQE skew-join splitting.
* Choose ``W`` near the TYPICAL interval span: blowup per interval is
  ``ceil(span/W) + 1`` rows of (keys, bucket, start, end) — slim,
  and for span ≈ W it is ~2×. A pathological long interval (an
  always-on row) explodes to span/W rows; cap it upstream or raise
  ``W``. ``explain()`` shows a single Exchange per side and the exact
  predicate as a post-join Filter.
* Everything is built-in Column algebra (sequence/explode/floor) —
  whole-stage codegen, no Python.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from med_doi_feature_extraction_spark.operators.windows import _epoch_seconds

DEFAULT_BUCKET_SEC = 3600


def _bucketed_intervals(
    intervals: DataFrame, start_ts: str, end_ts: str, bucket_sec: int
) -> DataFrame:
    # whole seconds: truncation is safe for bucket coverage because the
    # exact predicate re-checks full-resolution timestamps
    sb = F.floor(_epoch_seconds(F.col(start_ts)) / bucket_sec)
    eb = F.floor(_epoch_seconds(F.col(end_ts)) / bucket_sec)
    # empty/inverted intervals ([s, e) with e <= s) match nothing; drop
    # them before the explode so sequence() never sees eb < sb
    return (
        intervals.filter(F.col(end_ts) > F.col(start_ts))
        .withColumn("_ij_bucket", F.explode(F.sequence(sb, eb)))
    )


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_ts: str,
    start_ts: str,
    end_ts: str,
    on: Sequence[str] | None = None,
    bucket_sec: int = DEFAULT_BUCKET_SEC,
) -> DataFrame:
    """Inner-join each point row to every interval row with
    ``start_ts <= point_ts < end_ts`` (half-open, the convention that
    makes adjacent intervals partition time without double-matching),
    optionally also matching equi-keys ``on``.

    Output: all point columns + all interval columns (names must not
    collide — alias beforehand; ``point_ts``/``start_ts``/``end_ts``
    must be three distinct names). Each qualifying (point, interval)
    pair appears exactly once. For a LEFT variant, compose with an
    anti-join on the point id — keeping this operator inner keeps the
    dedup-free guarantee trivial to reason about.
    """
    on = list(on or [])
    pb = points.withColumn(
        "_ij_bucket", F.floor(_epoch_seconds(F.col(point_ts)) / bucket_sec)
    )
    ib = _bucketed_intervals(intervals, start_ts, end_ts, bucket_sec)
    joined = pb.join(ib, on + ["_ij_bucket"], "inner").filter(
        (F.col(start_ts) <= F.col(point_ts)) & (F.col(point_ts) < F.col(end_ts))
    )
    return joined.drop("_ij_bucket")


def overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    on: Sequence[str] | None = None,
    bucket_sec: int = DEFAULT_BUCKET_SEC,
) -> DataFrame:
    """Inner-join interval rows that OVERLAP: ``ls < re AND rs < le``
    (half-open on both sides), optionally matching equi-keys ``on``.

    A pair of overlapping intervals shares every bucket in the
    intersection of their covered ranges; the join keeps the pair only
    in the canonical bucket ``max(floor(ls/W), floor(rs/W))`` — the
    first bucket where both are live — so each pair appears exactly
    once with no DISTINCT pass (column names must not collide).
    """
    on = list(on or [])
    lb = _bucketed_intervals(left, left_start, left_end, bucket_sec)
    rb = _bucketed_intervals(right, right_start, right_end, bucket_sec)
    canonical = F.greatest(
        F.floor(_epoch_seconds(F.col(left_start)) / bucket_sec),
        F.floor(_epoch_seconds(F.col(right_start)) / bucket_sec),
    )
    joined = (
        lb.join(rb, on + ["_ij_bucket"], "inner")
        .filter(
            (F.col(left_start) < F.col(right_end))
            & (F.col(right_start) < F.col(left_end))
            & (F.col("_ij_bucket") == canonical)
        )
    )
    return joined.drop("_ij_bucket")
