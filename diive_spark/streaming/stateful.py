"""Custom stateful streaming operator: incremental gap detection.

The batch gap engine (operators/gaps.py) finds NULL runs with
gaps-and-islands; on a *stream* of arriving series records the same
question — "which positions never arrived?" — needs per-key state that
survives micro-batches.  This is the ``applyInPandasWithState`` pattern
(task brief: custom stateful operators for streams).

State per key: the last seen position.  When a record arrives more than
one step after the stored position, the skipped range is emitted as a
gap row.  State persists in the checkpoint, so a restarted query
continues exactly where it stopped (north rule: resumable from
checkpoint).
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
import pyspark.sql.types as T
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

GAP_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("gap_start", T.LongType()),
        T.StructField("gap_end", T.LongType()),
        T.StructField("gap_length", T.LongType()),
    ]
)

STATE_SCHEMA = T.StructType([T.StructField("last_pos", T.LongType())])


def _detect(
    key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    last_pos = state.get[0] if state.exists else None
    gaps: list[tuple] = []
    # concat ALL Arrow chunks before sorting: the group arrives as
    # multiple chunks (arrow.maxRecordsPerBatch) and per-chunk sorting
    # would report spurious gaps when a later chunk holds smaller
    # positions
    all_pos: list[int] = []
    for pdf in pdfs:
        all_pos.extend(int(p) for p in pdf["pos"].tolist())
    for pos in sorted(all_pos):
        if last_pos is not None and pos > last_pos + 1:
            gaps.append(
                (key[0], key[1], last_pos + 1, pos - 1, pos - 1 - last_pos)
            )
        if last_pos is None or pos > last_pos:
            last_pos = pos
    state.update((last_pos,))
    if gaps:
        yield pd.DataFrame(
            gaps, columns=["source", "doc_id", "gap_start", "gap_end", "gap_length"]
        )


def stream_gap_detector(stream_df: DataFrame) -> DataFrame:
    """Stateful gap stream: input (source, doc_id, pos[, ...]) records,
    output one row per detected skipped range."""
    return stream_df.groupBy("source", "doc_id").applyInPandasWithState(
        _detect,
        outputStructType=GAP_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# The partials families below run once per key per micro-batch, so at
# 100k keys their fixed per-call cost is the operator's cost: they read
# each chunk as plain lists (no per-key pandas filtering) and build
# their output frame column-wise, about half the cost of pandas'
# row-tuple constructor.
def _points(pdfs, col: str, cast) -> list[tuple]:
    """``(pos, cast(col))`` for every chunk row whose *col* is not null
    (``pdf.dropna(subset=[col])`` semantics: None and NaN dropped)."""
    pts: list[tuple] = []
    for pdf in pdfs:
        pts.extend(
            (int(p), cast(v))
            for p, v in zip(pdf["pos"].tolist(), pdf[col].tolist())
            if v is not None and v == v
        )
    return pts


def _frame(rows: list[tuple], schema: T.StructType) -> pd.DataFrame:
    """The output frame of *rows* (tuples in *schema* order)."""
    return pd.DataFrame(dict(zip(schema.names, map(list, zip(*rows)))),
                        copy=False)


COUNTER_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("bin_start", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("counter_delta", T.DoubleType()),
        T.StructField("n_resets", T.LongType()),
        T.StructField("first", T.DoubleType()),
        T.StructField("first_pos", T.LongType()),
        T.StructField("last", T.DoubleType()),
        T.StructField("last_pos", T.LongType()),
    ]
)

COUNTER_STATE = T.StructType(
    [
        T.StructField("last_pos", T.LongType()),
        T.StructField("last_val", T.DoubleType()),
    ]
)


def _counter_partials(key, pdfs, state):
    prev_pos, prev_val = (state.get if state.exists else (None, None))
    rows = []
    pts = []
    for pdf in pdfs:
        pts.extend(zip(map(int, pdf["pos"].tolist()), pdf["value"].tolist()))
    bins: dict[int, list] = {}
    for pos, raw in sorted(pts, key=lambda t: t[0]):
        if prev_pos is not None and pos <= prev_pos:
            continue  # replay / duplicate: idempotent skip
        if raw is None or raw != raw:  # null/NaN reading
            # batch counter_agg's lag chain passes the null through:
            # the NEXT reading sees lag(value)=NULL and gets inc=0
            # (restart).  Mirror that by clearing prev_val — without
            # this, NaN would poison keyed state and every later
            # increment for the series.
            prev_pos, prev_val = pos, None
            continue
        val = float(raw)
        if prev_val is None:
            inc, reset = 0.0, 0
        else:
            d = val - prev_val
            inc, reset = (val, 1) if d < 0 else (d, 0)
        b = (pos // 60) * 60
        agg = bins.get(b)
        if agg is None:
            # n, delta, resets, first, first_pos, last, last_pos
            bins[b] = [1, inc, reset, val, pos, val, pos]
        else:
            agg[0] += 1
            agg[1] += inc
            agg[2] += reset
            agg[5], agg[6] = val, pos
        prev_pos, prev_val = pos, val
    state.update((prev_pos, prev_val))
    for b, (n, delta, resets, f, fp, l, lp) in sorted(bins.items()):
        rows.append((key[0], key[1], b, n, delta, resets, f, fp, l, lp))
    if rows:
        yield _frame(rows, COUNTER_SCHEMA)


def stream_counter_partials(stream_df: DataFrame) -> DataFrame:
    """Stateful streaming face of ``analyses.counter_agg`` (reset-healed
    monotonic counters): per (source, doc_id), keep the last reading
    as keyed state so the increment at a bin's first point crosses
    micro-batch AND bin boundaries exactly like the batch window's
    ``lag`` — the batch convention that makes per-bin deltas tile the
    series total.  Emits 60-unit-bin PARTIALS with first/last pos
    anchors (the candle_agg open_pos/close_pos pattern), so multiple
    emissions of one bin across micro-batches compose EXACTLY:
    sums for n / counter_delta / n_resets, ``min_by(first, first_pos)``
    / ``max_by(last, last_pos)`` for the edge readings — then
    ``analyses.compose_counter`` lifts the result into coarser tiers.
    Replayed or out-of-order records at-or-before the stored position
    are skipped, so checkpoint replays converge to the same table
    (idempotent, like stream_ingest_tokens).  State is two scalars per
    series."""
    return stream_df.groupBy("source", "doc_id").applyInPandasWithState(
        _counter_partials,
        outputStructType=COUNTER_SCHEMA,
        stateStructType=COUNTER_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


STATEAGG_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("bin_start", T.LongType()),
        T.StructField("state", T.StringType()),
        T.StructField("n_segments", T.LongType()),
        T.StructField("duration", T.DoubleType()),
        T.StructField("n_enter", T.LongType()),
    ]
)

STATEAGG_STATE = T.StructType(
    [
        T.StructField("last_pos", T.LongType()),
        T.StructField("last_state", T.StringType()),
    ]
)


def _state_partials(key, pdfs, state):
    prev_pos, prev_state = (state.get if state.exists else (None, None))
    # batch state_agg drops null states up front (the locf segment runs
    # through the dropout until the next REAL reading), so a null row
    # must neither open a phantom 'None' segment nor advance the keyed
    # position
    pts = _points(pdfs, "state", str)
    bins: dict[tuple, list] = {}
    for pos, st in sorted(pts):
        if prev_pos is not None and pos <= prev_pos:
            continue  # replay / duplicate
        if prev_pos is not None:
            # the PREVIOUS reading's segment closes now: duration
            # pos - prev_pos, attributed to prev's bin (left endpoint)
            b = (prev_pos // 60) * 60
            k2 = (b, prev_state)
            agg = bins.get(k2)
            if agg is None:
                bins[k2] = [1, float(pos - prev_pos), 0]
            else:
                agg[0] += 1
                agg[1] += float(pos - prev_pos)
        prev_pos, prev_state = pos, st
    state.update((prev_pos, prev_state))
    rows = [
        (key[0], key[1], b, st, n, dur, ent)
        for (b, st), (n, dur, ent) in sorted(bins.items())
    ]
    if rows:
        yield _frame(rows, STATEAGG_SCHEMA)


def stream_state_partials(stream_df: DataFrame) -> DataFrame:
    """Stateful streaming face of ``analyses.state_agg`` (time in
    state, locf hold): keyed state = the last (pos, state) reading, so
    a segment closes when its SUCCESSOR arrives — across micro-batch
    boundaries exactly like the batch window's ``lead``.  Left-endpoint
    attribution makes the per-bin (state, duration, n_segments)
    partials compose by PLAIN SUM across emissions and tiers
    (``analyses.compose_state``).  n_enter is emitted as 0 — transition
    counting needs the predecessor's state at segment-OPEN time, which
    the batch twin recomputes; the streamed store carries the
    duration/segment facts.  Replay-idempotent like the counter face."""
    return stream_df.groupBy("source", "doc_id").applyInPandasWithState(
        _state_partials,
        outputStructType=STATEAGG_SCHEMA,
        stateStructType=STATEAGG_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


HEARTBEAT_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("bin_start", T.LongType()),
        T.StructField("n_beats", T.LongType()),
        T.StructField("uptime", T.DoubleType()),
        T.StructField("downtime", T.DoubleType()),
        T.StructField("n_gaps", T.LongType()),
    ]
)

HEARTBEAT_STATE = T.StructType([T.StructField("last_pos", T.LongType())])


def _heartbeat_partials(alive_window: float):
    def fn(key, pdfs, state):
        prev_pos = state.get[0] if state.exists else None
        pts = []
        for pdf in pdfs:
            pts.extend(map(int, pdf["pos"].tolist()))
        bins: dict[int, list] = {}
        for pos in sorted(pts):
            if prev_pos is not None and pos <= prev_pos:
                continue  # replay / duplicate
            if prev_pos is not None:
                dt = float(pos - prev_pos)
                up = min(dt, alive_window)
                b = (prev_pos // 60) * 60
                agg = bins.get(b)
                gap = 1 if dt > alive_window else 0
                if agg is None:
                    bins[b] = [1, up, dt - up, gap]
                else:
                    agg[0] += 1
                    agg[1] += up
                    agg[2] += dt - up
                    agg[3] += gap
            prev_pos = pos
        state.update((prev_pos,))
        rows = [
            (key[0], key[1], b, n, u, d, g)
            for b, (n, u, d, g) in sorted(bins.items())
        ]
        if rows:
            yield _frame(rows, HEARTBEAT_SCHEMA)

    return fn


def stream_heartbeat_partials(
    stream_df: DataFrame, alive_window: float
) -> DataFrame:
    """Stateful streaming face of ``analyses.heartbeat_agg``: each
    heartbeat proves liveness for ``alive_window`` units; a segment
    closes when the NEXT beat arrives (keyed state = last beat
    position, so segments cross micro-batch edges exactly like the
    batch ``lead``).  Left-endpoint attribution -> per-bin
    (n_beats, uptime, downtime, n_gaps) partials compose by PLAIN SUM
    across emissions and tiers (``analyses.compose_heartbeat``
    re-derives live_frac).  Replay-idempotent."""
    return stream_df.groupBy("source", "doc_id").applyInPandasWithState(
        _heartbeat_partials(float(alive_window)),
        outputStructType=HEARTBEAT_SCHEMA,
        stateStructType=HEARTBEAT_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


TWA_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("bin_start", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("integral", T.DoubleType()),
        T.StructField("duration", T.DoubleType()),
    ]
)

TWA_STATE = T.StructType(
    [
        T.StructField("last_pos", T.LongType()),
        T.StructField("last_val", T.DoubleType()),
    ]
)


def _twa_partials(key, pdfs, state):
    prev_pos, prev_val = (state.get if state.exists else (None, None))
    pts = _points(pdfs, "value", float)
    bins: dict[int, list] = {}
    for pos, val in sorted(pts):
        if prev_pos is not None and pos <= prev_pos:
            continue  # replay / duplicate
        if prev_pos is not None:
            dt = float(pos - prev_pos)
            b = (prev_pos // 60) * 60   # left-endpoint attribution
            agg = bins.get(b)
            area = prev_val * dt        # locf hold
            if agg is None:
                bins[b] = [1, area, dt]
            else:
                agg[0] += 1
                agg[1] += area
                agg[2] += dt
        prev_pos, prev_val = pos, val
    state.update((prev_pos, prev_val))
    rows = [
        (key[0], key[1], b, n, a, d)
        for b, (n, a, d) in sorted(bins.items())
    ]
    if rows:
        yield _frame(rows, TWA_SCHEMA)


def stream_twa_partials(stream_df: DataFrame) -> DataFrame:
    """Stateful streaming face of ``analyses.time_weighted_avg``
    (method='locf'): keyed state = the last (pos, value) reading, so
    a reading's held segment closes when its successor arrives —
    across micro-batch edges exactly like the batch ``lead``.
    Left-endpoint attribution -> per-bin (n, integral, duration)
    partials compose by PLAIN SUM across emissions and tiers
    (``analyses.compose_twa`` re-derives twa).  Null readings end no
    segment (dropped, the batch convention).  Replay-idempotent."""
    return stream_df.groupBy("source", "doc_id").applyInPandasWithState(
        _twa_partials,
        outputStructType=TWA_SCHEMA,
        stateStructType=TWA_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


GAUGE_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("bin_start", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("delta", T.DoubleType()),
        T.StructField("dx", T.DoubleType()),
        T.StructField("idelta_left", T.DoubleType()),
        T.StructField("ileft_pos", T.LongType()),
        T.StructField("idelta_right", T.DoubleType()),
        T.StructField("iright_pos", T.LongType()),
        T.StructField("first", T.DoubleType()),
        T.StructField("first_pos", T.LongType()),
        T.StructField("last", T.DoubleType()),
        T.StructField("last_pos", T.LongType()),
    ]
)

GAUGE_STATE = T.StructType(
    [
        T.StructField("last_pos", T.LongType()),
        T.StructField("last_val", T.DoubleType()),
    ]
)


def _gauge_partials(key, pdfs, state):
    prev_pos, prev_val = (state.get if state.exists else (None, None))
    pts = _points(pdfs, "value", float)
    bins: dict[int, dict] = {}
    for pos, val in sorted(pts):
        if prev_pos is not None and pos <= prev_pos:
            continue  # replay / duplicate
        b = (pos // 60) * 60  # increments land in the LATER reading's bin
        agg = bins.setdefault(b, {
            "n": 0, "delta": 0.0, "dx": 0.0,
            "il": None, "ilp": None, "ir": None, "irp": None,
            "f": val, "fp": pos, "l": val, "lp": pos,
        })
        agg["n"] += 1
        agg["l"], agg["lp"] = val, pos
        if agg["fp"] > pos:
            agg["f"], agg["fp"] = val, pos
        if prev_val is not None:
            inc, dxx = val - prev_val, float(pos - prev_pos)
            agg["delta"] += inc
            agg["dx"] += dxx
            if agg["il"] is None:
                agg["il"], agg["ilp"] = inc, pos
            agg["ir"], agg["irp"] = inc, pos
        prev_pos, prev_val = pos, val
    state.update((prev_pos, prev_val))
    rows = [
        (key[0], key[1], b, a["n"], a["delta"], a["dx"],
         a["il"], a["ilp"], a["ir"], a["irp"],
         a["f"], a["fp"], a["l"], a["lp"])
        for b, a in sorted(bins.items())
    ]
    if rows:
        yield _frame(rows, GAUGE_SCHEMA)


def stream_gauge_partials(stream_df: DataFrame) -> DataFrame:
    """Stateful streaming face of ``analyses.gauge_agg`` (signed-delta
    gauges — the counter face without reset healing): keyed state =
    last (pos, value), so the increment at a bin's first reading
    crosses micro-batch and bin edges exactly like the batch ``lag``.
    Emits per-bin partials with pos anchors on BOTH the edge readings
    and the edge increments, so multi-batch emissions of one bin
    compose exactly: sums for n/delta/dx, ``min_by(idelta_left,
    ileft_pos)`` / ``max_by(idelta_right, iright_pos)`` /
    ``min_by(first, first_pos)`` / ``max_by(last, last_pos)``; rate
    re-derives as sum(delta)/sum(dx), then ``analyses.compose_gauge``
    lifts tiers.  Replay-idempotent."""
    return stream_df.groupBy("source", "doc_id").applyInPandasWithState(
        _gauge_partials,
        outputStructType=GAUGE_SCHEMA,
        stateStructType=GAUGE_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


PH_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("alarm_pos", T.LongType()),
        T.StructField("alarm_no", T.LongType()),
        T.StructField("ph_peak", T.DoubleType()),
    ]
)

PH_STATE = T.StructType(
    [
        T.StructField("last_pos", T.LongType()),
        T.StructField("cnt", T.DoubleType()),
        T.StructField("sum", T.DoubleType()),
        T.StructField("m", T.DoubleType()),
        T.StructField("mm", T.DoubleType()),
        T.StructField("alarms", T.LongType()),
    ]
)


def _ph_partials(delta: float, lam: float):
    def fn(key, pdfs, state):
        if state.exists:
            last_pos, cnt, s, m, mm, alarms = state.get
        else:
            last_pos, cnt, s, m, mm, alarms = None, 0.0, 0.0, 0.0, 0.0, 0
        pts = _points(pdfs, "value", float)
        out = []
        for pos, raw in sorted(pts, key=lambda t: t[0]):
            if last_pos is not None and pos <= last_pos:
                continue  # replay / duplicate: idempotent skip
            last_pos = pos
            x = float(raw)
            # EXACT batch arithmetic order (outliers.page_hinkley):
            # ((m + x) - s/cnt) - delta
            cnt = cnt + 1.0
            s = s + x
            m = m + x - s / cnt - delta
            mm = m if m < mm else mm
            if (m - mm) > lam:
                alarms += 1
                out.append((key[0], key[1], pos, alarms, m - mm))
                cnt, s, m, mm = 0.0, 0.0, 0.0, 0.0
        state.update((last_pos, cnt, s, m, mm, alarms))
        if out:
            yield _frame(out, PH_SCHEMA)

    return fn


def stream_ph_partials(
    stream_df: DataFrame, delta: float = 0.005, lam: float = 60.0
) -> DataFrame:
    """Streaming Page-Hinkley drift alarms (Page 1954 / Hinkley 1971,
    restart-on-alarm — the batch :func:`...operators.outliers.
    page_hinkley` semantics on an unbounded stream): per-key state is
    SIX scalars (last_pos watermark for idempotent replay skip + the
    4-scalar PH state + the alarm counter), emitted rows are the alarm
    EVENTS as they fire.  The update chain replays the batch fold's
    exact IEEE grouping, so across any micro-batch slicing the alarm
    positions, count, and the running statistic match the batch
    operator bit-for-bit; state persists in the checkpoint and the
    query resumes after a restart (north rule).
    """
    return stream_df.groupBy("source", "doc_id").applyInPandasWithState(
        _ph_partials(float(delta), float(lam)),
        outputStructType=PH_SCHEMA,
        stateStructType=PH_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


FUNNEL_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("completed_ts", T.DoubleType()),
        T.StructField("t_anchor", T.DoubleType()),
        T.StructField("dur_s", T.DoubleType()),
    ]
)

FUNNEL_STATE = T.StructType(
    [
        T.StructField("last_ts", T.DoubleType()),
        T.StructField("level", T.LongType()),
        T.StructField("t_anchor", T.DoubleType()),
        T.StructField("t_prev", T.DoubleType()),
        T.StructField("done", T.BooleanType()),
    ]
)


def _funnel_partials(steps, window_seconds):
    step_ix = {s: i for i, s in enumerate(steps)}
    n_steps = len(steps)

    def fn(key, pdfs, state):
        if state.exists:
            last_ts, level, t0, t_prev, done = state.get
        else:
            last_ts, level, t0, t_prev, done = None, 0, None, None, False
        evs = []
        for pdf in pdfs:
            evs.extend(
                zip(pdf["ts_epoch"].tolist(), pdf["event_type"].tolist())
            )
        out = []
        for t, y in sorted(evs, key=lambda e: e[0]):
            if last_ts is not None and t <= last_ts:
                continue  # replay / duplicate: idempotent skip
            last_ts = t
            if done or y not in step_ix:
                continue
            i = step_ix[y]
            if level == 0:
                if i == 0:
                    level, t0, t_prev = 1, t, t
            elif i == level:  # the next step in order
                if t >= t_prev and t <= t0 + window_seconds:
                    level, t_prev = level + 1, t
                    if level == n_steps:
                        done = True
                        out.append((key[0], t, t0, t - t0))
        state.update((last_ts, level, t0, t_prev, done))
        if out:
            yield _frame(out, FUNNEL_SCHEMA)

    return fn


def stream_funnel_partials(
    stream_df: DataFrame,
    steps,
    window_seconds: float = 86400.0,
) -> DataFrame:
    """Streaming ordered-funnel completions: per-actor state machine
    (5 scalars) advancing through ``steps``; emits ONE completion
    event per actor the moment the final step lands inside the window
    anchored at their first ``steps[0]``.  Input rows carry
    ``user_id`` and a pre-computed ``ts_epoch`` double (exact
    micros/1e6, matching the batch operator's epochs).

    Ordering contract: events are processed in event-time order
    WITHIN each micro-batch (sorted here) and the per-key ``last_ts``
    watermark makes replays idempotent; when arrivals respect event
    order across batches — the file-source / kafka-per-key-ordered
    case — completions match the batch
    :func:`...operators.eventflow.funnel_conversion` exactly (same
    epochs, same min/compare arithmetic).  A late cross-batch
    out-of-order step is DROPPED by the watermark, never mis-ordered:
    the conservative failure mode for an alert stream.

    Scale: state is 5 scalars per actor regardless of their event
    volume — the unbounded-stream complement of the batch operator's
    per-actor collected array.
    """
    steps = list(steps)
    if len(steps) < 2 or len(set(steps)) != len(steps):
        raise ValueError(f"need >= 2 distinct steps, got {steps!r}")
    if window_seconds <= 0:
        raise ValueError(f"window_seconds must be > 0, got {window_seconds}")
    return stream_df.groupBy("user_id").applyInPandasWithState(
        _funnel_partials(steps, float(window_seconds)),
        outputStructType=FUNNEL_SCHEMA,
        stateStructType=FUNNEL_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


BUCKET_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("throttled_ts", T.DoubleType()),
        T.StructField("throttle_no", T.LongType()),
        T.StructField("level", T.DoubleType()),
    ]
)

BUCKET_STATE = T.StructType(
    [
        T.StructField("last_ts", T.DoubleType()),
        T.StructField("lvl", T.DoubleType()),
        T.StructField("thr", T.LongType()),
    ]
)


def _bucket_partials(capacity, refill_per_s, cost):
    def fn(key, pdfs, state):
        if state.exists:
            last_ts, lvl, thr = state.get
        else:
            last_ts, lvl, thr = None, capacity, 0
        ts = []
        for pdf in pdfs:
            ts.extend(pdf["ts_epoch"].tolist())
        out = []
        for t in sorted(ts):
            if last_ts is not None and t <= last_ts:
                continue  # replay / duplicate: idempotent skip
            # EXACT batch arithmetic order (eventflow.token_bucket_
            # throttle): refill then cap-clamp then compare
            if last_ts is not None:
                refill = (t - last_ts) * refill_per_s
                lvl = lvl + refill if lvl + refill < capacity else capacity
            last_ts = t
            if lvl >= cost:
                lvl -= cost
            else:
                thr += 1
                out.append((key[0], t, thr, lvl))
        state.update((last_ts, lvl, thr))
        if out:
            yield _frame(out, BUCKET_SCHEMA)

    return fn


def stream_bucket_partials(
    stream_df: DataFrame,
    capacity: float = 5.0,
    refill_per_s: float = 0.01,
    cost: float = 1.0,
) -> DataFrame:
    """Streaming token-bucket policer (the live form of the batch
    :func:`...operators.eventflow.token_bucket_throttle` replay):
    3-scalar keyed state, emits one row per THROTTLED event as it
    happens.  Same exact-IEEE update chain as the batch fold, so the
    throttle decisions, counts, and bucket levels match the batch
    audit bit-for-bit under any micro-batch slicing of an ordered
    arrival stream; replays are skipped idempotently via the last_ts
    watermark.  Input rows carry ``user_id`` + ``ts_epoch`` (exact
    micros/1e6 doubles).
    """
    if capacity <= 0 or refill_per_s < 0 or cost <= 0 or cost > capacity:
        raise ValueError(
            f"invalid policy: capacity={capacity}, "
            f"refill_per_s={refill_per_s}, cost={cost}"
        )
    return stream_df.groupBy("user_id").applyInPandasWithState(
        _bucket_partials(float(capacity), float(refill_per_s), float(cost)),
        outputStructType=BUCKET_SCHEMA,
        stateStructType=BUCKET_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


DGIM_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("pos", T.LongType()),
        T.StructField("est", T.LongType()),
        T.StructField("bound", T.LongType()),
        T.StructField("n_buckets", T.LongType()),
    ]
)

DGIM_STATE = T.StructType(
    [
        T.StructField("last_pos", T.LongType()),
        T.StructField("bpos", T.ArrayType(T.LongType())),
        T.StructField("bsiz", T.ArrayType(T.LongType())),
    ]
)


def _dgim_partials(window: int, check_every: int, threshold: float):
    from ..functions.dgim import dgim_add, dgim_estimate

    def fn(key, pdfs, state):
        if state.exists:
            last_pos, bpos, bsiz = state.get
            bpos, bsiz = list(bpos), list(bsiz)
        else:
            last_pos, bpos, bsiz = None, [], []
        pts = []
        for pdf in pdfs:
            pts.extend(zip(map(int, pdf["pos"].tolist()),
                           pdf["value"].tolist()))
        out = []
        for pos, raw in sorted(pts, key=lambda t: t[0]):
            if last_pos is not None and pos <= last_pos:
                continue  # replay / duplicate: idempotent skip
            last_pos = pos
            # null reads as bit 0 — same convention as the batch kernel
            bit = 1 if (raw == raw and raw is not None
                        and float(raw) >= threshold) else 0
            dgim_add(pos, bit, bpos, bsiz, window)
            if pos % check_every == 0:
                est, bound = dgim_estimate(bpos, bsiz)
                out.append(
                    (key[0], key[1], pos, est, bound, len(bpos))
                )
        state.update((last_pos, bpos, bsiz))
        if out:
            yield _frame(out, DGIM_SCHEMA)

    return fn


def stream_dgim_partials(
    stream_df: DataFrame,
    window: int = 128,
    check_every: int = 60,
    threshold: float = 10.0,
) -> DataFrame:
    """Streaming DGIM sliding-window count of above-threshold readings
    (functions/dgim.py; batch twin: analyses.dgim_window_count): per
    key the state is the O(log² W) bucket list plus a last_pos
    watermark — NEVER the window itself — so a window of a billion
    positions costs ~2·log2(W) longs of state per series.  The fold is
    pure integer arithmetic shared bit-for-bit with the batch kernel,
    so estimates, error bounds, and bucket counts match the batch
    answer under any micro-batch slicing, and the checkpointed state
    resumes exactly after a restart (north rule).  Emits one row per
    ``check_every``-th position.
    """
    return stream_df.groupBy("source", "doc_id").applyInPandasWithState(
        _dgim_partials(int(window), int(check_every), float(threshold)),
        outputStructType=DGIM_SCHEMA,
        stateStructType=DGIM_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
