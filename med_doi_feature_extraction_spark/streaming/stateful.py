"""Custom stateful streaming operators (``applyInPandasWithState``):
the streaming twins of the per-entity temporal features — per-row
sessionization, EWMA, change rate and running distinct — plus
Misra–Gries heavy hitters.

``session_window`` aggregates per session; training pipelines usually
need the session id ON EVERY EVENT ROW (it's a feature).
``sessionize_stateful`` keeps (last_ts, session_id, snap_rank) per
entity in group state and assigns ids incrementally as microbatches
arrive — the streaming twin of ``operators.windows.sessionize`` with
identical semantics (new session when gap > threshold, strictly; gaps
compared on FLOORED epoch seconds exactly like the batch operator's
``_epoch_seconds``, so sub-second timestamps session identically in
both modes).

The four event-time operators share one driver, ``_event_time_fold``,
which owns the protocol that decides when a row is final: it casts
``ts`` and applies the watermark, picks the timeout, unpacks the
pending rows from state, converts timestamps to µs, splits rows into
ready and pending against ``getCurrentWatermarkMs()`` (stable sort by
ts, buffered rows ahead of new ones), writes the pending rows back
and re-arms the timeout. Each operator supplies only its own parts:
its initial carry (the state fields ahead of the pending arrays), the
conversion of its payload column (none for sessionize), and a fold
that turns the carry and the ready rows, in ts order, into the new
carry and the emitted columns. ``topk_stateful`` has no event time
and no buffer, so it does not use the driver.

Two delivery modes:

- ``buffer_late=False`` (default): rows are processed immediately,
  assuming non-decreasing ts per entity across batches (sorted source).
  A row arriving after a later row has been processed gets a WRONG
  result — this failure mode is pinned by a test.
- ``buffer_late=True``: rows are held in group state until the event
  watermark passes them, then finalized in ts order — out-of-order
  arrival within the watermark yields exactly the batch result (rows
  newer than the final watermark stay buffered, same contract as
  ``session_window`` append mode). Uses EventTimeTimeout so buffered
  rows flush on no-data microbatches as the watermark advances. Ties
  at equal ts finalize in arrival order (stable sort).

State size is O(entities) (+O(buffered rows) in buffered mode — bounded
by rows-per-watermark-window); at 10^12-doc scale key the stream by
url-bucket shards and use the rocksdb state store on a real cluster.
"""

from __future__ import annotations

import bisect
import math
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_LONG, _DOUBLE, _STR, _TS = (
    T.LongType(), T.DoubleType(), T.StringType(), T.TimestampType()
)


def _struct(*fields: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(name, dtype) for name, dtype in fields])


def _event_time_fold(
    events: DataFrame,
    entity: str,
    ts: str,
    watermark: str,
    buffer_late: bool,
    state_schema: T.StructType,
    output_schema: T.StructType,
    output_mode: str,
    init: tuple,
    fold: Callable,
    payload: Callable[[pd.DataFrame], list] | None = None,
) -> DataFrame:
    """The event-time protocol of the four stateful twins.

    ``state_schema`` is the carry fields (``init`` gives their values
    for a new entity) followed by the pending arrays: ts in µs, then
    the payload values when ``payload`` converts a column.
    ``fold(carry, ts_us[, values])`` receives the ready rows in ts
    order and returns ``(carry, columns)``; when any row was ready,
    ``columns`` is emitted with the entity key in front.
    """
    n_carry = len(init)
    n_pending = 1 if payload is None else 2

    def step(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState):
        stored = state.get if state.exists else (*init, *[None] * n_pending)
        carry = tuple(stored[:n_carry])
        rows = [list(a or []) for a in stored[n_carry:]]
        if not state.hasTimedOut:
            for pdf in pdf_iter:
                # one vectorized ns→µs conversion per batch (floor
                # division matches pd.Timestamp(t).value // 1000)
                rows[0].extend(
                    (pdf[ts].to_numpy(dtype="datetime64[ns]").astype("int64") // 1000).tolist()
                )
                if payload is not None:
                    rows[1].extend(payload(pdf))

        # stable: buffered rows sit ahead of new ones at equal ts
        order = sorted(range(len(rows[0])), key=rows[0].__getitem__)
        rows = [[col[i] for i in order] for col in rows]
        if buffer_late:
            wm_ms = state.getCurrentWatermarkMs()
            n_ready = bisect.bisect_right(rows[0], wm_ms * 1000)
        else:
            n_ready = len(order)
        carry, columns = fold(carry, *(col[:n_ready] for col in rows))
        pending = [col[n_ready:] for col in rows]

        state.update((*carry, *pending))
        if buffer_late and pending[0]:
            # re-arm: fire as soon as the watermark can finalize the
            # earliest buffered row (must be strictly > current wm)
            state.setTimeoutTimestamp(max(pending[0][0] // 1000, wm_ms + 1))
        if n_ready:
            yield pd.DataFrame({entity: key[0], **columns})

    timeout = (
        GroupStateTimeout.EventTimeTimeout
        if buffer_late
        else GroupStateTimeout.NoTimeout
    )
    return (
        events.withColumn(ts, F.col(ts).cast("timestamp"))
        .withWatermark(ts, watermark)
        .groupBy(entity)
        .applyInPandasWithState(
            step, output_schema, state_schema, output_mode, timeout
        )
    )


STATE_SCHEMA = _struct(
    ("last_ts_us", _LONG),
    ("session_id", _LONG),
    ("session_seq", _LONG),
    ("snap_rank", _LONG),
    ("pending_ts_us", T.ArrayType(_LONG)),
)


def sessionize_stateful(
    events: DataFrame,
    entity: str,
    ts: str,
    gap_seconds: int,
    watermark: str = "1 hour",
    buffer_late: bool = False,
) -> DataFrame:
    """Streaming per-row sessionization grouped by ``entity``. The
    input must be a streaming DataFrame: Spark rejects
    ``applyInPandasWithState`` on a batch one."""

    def fold(carry, ts_us):
        last_ts_us, session_id, session_seq, snap_rank = carry
        # each row's session depends on the previous one, so the state
        # transitions are a sequential loop over plain ints
        ids, seqs, ranks = [], [], []
        for t_us in ts_us:
            t_s = t_us // 1_000_000
            if last_ts_us is None or t_s - (last_ts_us // 1_000_000) > gap_seconds:
                session_id += 1
                session_seq = 0
            last_ts_us = t_us
            session_seq += 1
            snap_rank += 1
            ids.append(session_id)
            seqs.append(session_seq)
            ranks.append(snap_rank)
        return (last_ts_us, session_id, session_seq, snap_rank), {
            ts: pd.to_datetime(ts_us, unit="us"),
            "session_id": ids,
            "session_seq": seqs,
            "snap_rank": ranks,
        }

    return _event_time_fold(
        events, entity, ts, watermark, buffer_late,
        STATE_SCHEMA,
        _struct(
            (entity, _LONG),
            (ts, _TS),
            ("session_id", _LONG),
            ("session_seq", _LONG),
            ("snap_rank", _LONG),
        ),
        "append",
        init=(None, 0, 0, 0),
        fold=fold,
    )


EWMA_STATE_SCHEMA = _struct(
    ("last_ts_us", _LONG),
    ("num", _DOUBLE),
    ("den", _DOUBLE),
    ("pending_ts_us", T.ArrayType(_LONG)),
    ("pending_val", T.ArrayType(_DOUBLE)),
)


def ewma_stateful(
    events: DataFrame,
    entity: str,
    ts: str,
    value: str,
    alpha: float,
    watermark: str = "1 hour",
    buffer_late: bool = False,
) -> DataFrame:
    """Streaming per-row EWMA with cross-microbatch state — the
    streaming twin of ``operators.feateng.ewma`` (adjust=True,
    ignore_na=False semantics).

    State per entity is two scalars: ``num_t = x_t + (1-a)·num_{t-1}``
    and ``den_t = 1 + (1-a)·den_{t-1}`` (NaN rows decay both without
    adding — exactly pandas ``ignore_na=False`` weight bookkeeping);
    the emitted mean is ``num/den``. O(entities) state regardless of
    history length — the streaming-native form of a feature whose
    batch recursion needs the whole history in order.

    Delivery contract as in the module docstring (append semantics);
    the arrival-order tie rule matches the batch operator's stable
    mergesort when no tiebreak is given.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    r = 1.0 - alpha

    def fold(carry, ts_us, xs):
        last_ts_us, num, den = carry
        means = []
        for t_us, x in zip(ts_us, xs):
            num *= r
            den *= r
            if x == x:  # non-NaN
                num += x
                den += 1.0
            last_ts_us = t_us
            means.append((num / den) if den > 0 else None)
        return (last_ts_us, num, den), {
            ts: pd.to_datetime(ts_us, unit="us"),
            value: xs,
            f"{value}_ewma": means,
        }

    return _event_time_fold(
        events, entity, ts, watermark, buffer_late,
        EWMA_STATE_SCHEMA,
        _struct(
            (entity, _LONG),
            (ts, _TS),
            (value, _DOUBLE),
            (f"{value}_ewma", _DOUBLE),
        ),
        "append",
        init=(None, 0.0, 0.0),
        fold=fold,
        payload=lambda pdf: pdf[value].to_numpy(dtype="float64").tolist(),
    )


CHANGE_RATE_STATE_SCHEMA = _struct(
    ("last_ts_us", _LONG),
    ("prev_c", _STR),
    ("n", _LONG),
    ("changes", _LONG),
    ("gap_sum", _DOUBLE),
    ("last_change_us", _LONG),
    ("p_ts", T.ArrayType(_LONG)),
    ("p_c", T.ArrayType(_STR)),
)


def change_rate_stateful(
    events: DataFrame,
    entity: str,
    ts: str,
    content: str,
    watermark: str = "1 hour",
    buffer_late: bool = False,
) -> DataFrame:
    """Streaming per-entity content-churn features — the streaming
    twin of ``operators.windows.change_rate_features`` with O(1) state
    per entity: (last ts, previous content value, snapshot/change
    counts, gap sum, last-change ts). Each microbatch emits the
    entity's RUNNING feature row (update semantics — pair with
    ``outputMode("update")``); after the final batch the last emission
    per entity equals the batch operator's aggregate exactly (pinned
    in tests, in both delivery modes).

    Delivery contract as in the module docstring. Null-safe change
    semantics match the batch op: NULL→NULL is no change, NULL↔value
    is a change, the first snapshot never counts. Gap seconds use the
    same whole-second floor as the batch epoch cast.
    """
    NULL_MARK = "\x00<null>"

    def _r6(x: float) -> float:
        # Spark's round() is HALF_UP; Python's is banker's — they
        # diverge at exact 5e-7 tails (e.g. 1/128), so replicate
        # HALF_UP for non-negative inputs
        return math.floor(x * 1e6 + 0.5) / 1e6

    def fold(carry, ts_us, cs):
        last_ts_us, prev_c, n, changes, gap_sum, last_change_us = carry
        for t_us, c in zip(ts_us, cs):
            if n > 0:
                # whole-second gap (batch op floors via epoch cast)
                gap_sum += float(t_us // 1_000_000 - last_ts_us // 1_000_000)
                if c != prev_c:
                    changes += 1
                    last_change_us = t_us
            n += 1
            last_ts_us = t_us
            prev_c = c
        return (last_ts_us, prev_c, n, changes, gap_sum, last_change_us), {
            "n_snapshots": [n],
            "n_changes": [changes],
            "change_rate": [_r6(changes / (n - 1)) if n > 1 else None],
            "mean_gap_sec": [_r6(gap_sum / (n - 1)) if n > 1 else None],
            "last_change_ts": [
                pd.to_datetime(last_change_us, unit="us")
                if last_change_us is not None
                else pd.NaT
            ],
        }

    return _event_time_fold(
        events, entity, ts, watermark, buffer_late,
        CHANGE_RATE_STATE_SCHEMA,
        _struct(
            (entity, _LONG),
            ("n_snapshots", _LONG),
            ("n_changes", _LONG),
            ("change_rate", _DOUBLE),
            ("mean_gap_sec", _DOUBLE),
            ("last_change_ts", _TS),
        ),
        "update",
        init=(None, None, 0, 0, 0.0, None),
        fold=fold,
        payload=lambda pdf: [
            NULL_MARK if c is None or c != c else str(c)
            for c in pdf[content].tolist()
        ],
    )


CUM_DISTINCT_STATE_SCHEMA = _struct(
    ("last_ts_us", _LONG),
    ("seen", T.ArrayType(_STR)),
    ("n_seen", _LONG),
    ("p_ts", T.ArrayType(_LONG)),
    ("p_v", T.ArrayType(_STR)),
)


def cumulative_distinct_stateful(
    events: DataFrame,
    entity: str,
    ts: str,
    val: str,
    watermark: str = "1 hour",
    buffer_late: bool = False,
) -> DataFrame:
    """Streaming running-distinct breadth — the streaming twin of
    ``operators.windows.cumulative_distinct``: every row is emitted
    with the number of DISTINCT non-null ``val`` values its entity
    has exhibited so far. NULL values never increment (emitted with
    the running count carried through), matching the batch operator.

    State per entity = the SET of values seen (plus the usual
    buffered-late arrays): O(distinct values per entity) — bounded
    for the categorical columns this feature means (languages,
    template ids, content hashes bucketed upstream); it is NOT the
    right streaming shape for unbounded-cardinality values (hash to
    a fixed sketch upstream, or use an HLL variant, if so).

    Delivery contract as in the module docstring (append semantics).
    The batch twin with a tiebreak column may order equal-ts rows
    differently from arrival order; the FINAL count after the tie
    group is identical either way (set union is order-free).
    """

    def fold(carry, ts_us, vs):
        last_ts_us, seen, _ = carry
        seen = set(seen or [])
        counts = []
        for t_us, v in zip(ts_us, vs):
            if v is not None:
                seen.add(v)
            last_ts_us = t_us
            counts.append(len(seen))
        return (last_ts_us, sorted(seen), len(seen)), {
            ts: pd.to_datetime(ts_us, unit="us"),
            val: vs,
            "n_distinct_seen": counts,
        }

    return _event_time_fold(
        events, entity, ts, watermark, buffer_late,
        CUM_DISTINCT_STATE_SCHEMA,
        _struct(
            (entity, _LONG),
            (ts, _TS),
            (val, _STR),
            ("n_distinct_seen", _LONG),
        ),
        "append",
        init=(None, [], 0),
        fold=fold,
        payload=lambda pdf: pdf[val].astype(object).where(
            pdf[val].notna(), None
        ).tolist(),
    )


TOPK_STATE_SCHEMA = _struct(
    ("items", T.ArrayType(_STR)),
    ("counts", T.ArrayType(_LONG)),
    ("n_processed", _LONG),
)


def topk_stateful(
    events: DataFrame,
    group: str,
    item: str,
    k: int,
) -> DataFrame:
    """Streaming heavy hitters per group — the Misra–Gries summary
    (1982; the "space-saving" family) in ``applyInPandasWithState``:
    O(k) state per group regardless of stream length, with the
    classic deterministic guarantee ``true_count − mg_count ≤ n/k``
    — any item with true frequency > n/k is IN the summary. The
    streaming twin of the batch top-n-gram / hot-domain censuses for
    dashboards that cannot afford a full (group, item) hash-agg of
    an unbounded stream.

    Per microbatch each group that made PROGRESS (processed ≥ 1
    non-null item) emits its UPDATED summary snapshot — one row per
    retained item, or a single NULL-item row when the MG step left
    the summary empty, so the snapshot stream always advances and an
    emptied summary can never lose to a stale one. A consumer keeps
    the rows with the max ``n_processed`` per group, then drops the
    NULL-item sentinel. No-progress microbatches emit nothing
    (n_processed unchanged ⇒ re-emitting would duplicate the
    max-n snapshot). Arrival order within a group decides MG
    tie-breaking, so tests feed an ordered single-partition source
    (the sessionize_stateful convention).
    """
    if k < 1:
        raise ValueError("k must be >= 1")

    def step(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            items, counts, n = state.get
            summary = dict(zip(items or [], counts or []))
        else:
            summary, n = {}, 0
        n_before = n

        for pdf in pdf_iter:
            for it in pdf[item].astype(object):
                if it is None:
                    continue
                n += 1
                if it in summary:
                    summary[it] += 1
                elif len(summary) < k:
                    summary[it] = 1
                else:  # decrement-all; drop zeros (the MG step)
                    summary = {
                        i: c - 1 for i, c in summary.items() if c > 1
                    }

        keys_sorted = sorted(summary)  # deterministic state layout
        state.update(
            (
                keys_sorted,
                [summary[i] for i in keys_sorted],
                n,
            )
        )
        if n > n_before:
            out_items = keys_sorted or [None]
            out_counts = [summary[i] for i in keys_sorted] or [0]
            yield pd.DataFrame(
                {
                    group: key[0],
                    item: out_items,
                    "mg_count": out_counts,
                    "n_processed": n,
                }
            )

    return events.groupBy(group).applyInPandasWithState(
        step,
        _struct(
            (group, _STR),
            (item, _STR),
            ("mg_count", _LONG),
            ("n_processed", _LONG),
        ),
        TOPK_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
