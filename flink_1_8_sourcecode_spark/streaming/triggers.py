"""Window triggers — early-firing emulation of the reference's trigger
surface (flink-streaming-java/.../windowing/triggers/CountTrigger.java,
ContinuousEventTimeTrigger.java, DeltaTrigger.java, PurgingTrigger.java).

Structured Streaming's windowed aggregation fires once per micro-batch
with no user trigger hook, so custom triggers run in the stateful layer
(applyInPandasWithState): per key, open tumbling windows live in state;
trigger conditions emit EARLY partial rows (is_final=false); the global
watermark passing a window's end emits the final row (is_final=true)
and purges — the classic assign -> state -> trigger -> emit loop of
WindowOperator.java:294.  Event-time timeouts flush windows of keys
that receive no further data, exactly like Flink's event-time timers.

Scale notes:

- **Key groups.** Flink never runs one state task per user key: keys
  hash into a fixed number of key groups
  (flink-runtime/.../state/KeyGroupRangeAssignment.java, default
  maxParallelism 128) and each task owns a key-group range.
  ``key_buckets`` is the same design here (``keyed_state.key_groups``):
  the stateful shuffle is on ``hash(key) % key_buckets``, one
  invocation per bucket per micro-batch, and per-(key, window)
  accumulators live inside the bucket's state.  This amortizes the per-invocation
  JVM<->Python protocol cost over all keys of the bucket — at high key
  cardinality the per-key-invocation alternative is the scale-killer,
  not the arithmetic.  Size ``key_buckets`` like Flink's
  maxParallelism: >= the executor-core count you want to saturate.
- **State.** Per bucket, one ``keyed_state.Packed`` matrix of open-window
  accumulators: the exact int64 key plus float64 (w_start, cnt, total,
  cursor), never buffered rows.
- **Vectorization.** Per-batch work is numpy: count-trigger firings
  fall out of modular arithmetic on cumulative counts,
  continuous-trigger firings out of boundary crossings, and emitted
  snapshots out of cumulative sums.  Only the delta trigger walks
  elements (its comparison point is data-dependent on the previous
  firing, sequential by definition — DeltaTrigger.java's
  onElement/ValueState<T> loop), and that walk is a float-only scan
  over numpy arrays with firing indices collected for vectorized
  emission.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState
from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

from flink_1_8_sourcecode_spark.streaming import keyed_state

_INTEGRAL = (ByteType, ShortType, IntegerType, LongType)


def _delta_fire_scan(delta_fn, param, cursor, wvals, chunk=512):
    """DeltaTrigger scan: firing indices + final comparison point.

    The comparison point is data-dependent on the previous firing
    (sequential by definition — DeltaTrigger.java's onElement/
    ValueState<T> loop), but BETWEEN firings the scan is a pure
    "first index where delta_fn(c, v) > param" search, so it runs in
    vectorized chunks: one ``delta_fn(c, chunk_array)`` call prunes up
    to ``chunk`` candidates at a time (same vectorized-try convention as
    evictors.delta_keep_mask), falling back to per-element calls for
    non-vectorizable user functions.  Cost: O(m + fires*chunk) element
    evaluations, all inside numpy for a vectorizable delta_fn.
    """
    fires: list[int] = []
    c = cursor
    m = len(wvals)
    i = 0
    if c != c:  # NaN: DeltaTrigger's empty ValueState seeds, no fire
        if m == 0:
            return fires, c
        c = float(wvals[0])
        i = 1
    vectorizable = True  # probe on first chunk; remember the verdict
    first_probe = True
    while i < m:
        j = min(i + chunk, m)
        seg = wvals[i:j]
        d = None
        if vectorizable:
            try:
                r = np.asarray(delta_fn(c, seg))
                if r.shape == seg.shape:
                    d = r
                elif first_probe:
                    vectorizable = False
            except Exception:
                if first_probe:
                    vectorizable = False
            first_probe = False
        if d is None:
            d = np.array([delta_fn(c, float(x)) for x in seg])
        hits = d > param
        if hits.any():
            k = int(np.argmax(hits))
            fires.append(i + k)
            c = float(seg[k])
            i += k + 1
        else:
            i = j
    return fires, c


def _scan_group(kind, param, purging, delta_fn, acc, wvals):
    """One (key, window) group of one micro-batch: detect early firings
    and advance the accumulator.

    ``acc`` is the window's ``[cnt, total, cursor]`` state (mutated in
    place; cursor pre-initialized by the caller on window creation).
    Returns ``(fires, cnts, tots)`` — the 0-based firing indices within
    the sorted batch slice and the snapshot (cnt, total) emitted at each
    firing.  Pure function of its inputs, unit-tested against a per-row
    reference implementation in ``tests/test_triggers.py``.
    """
    cnt0, total0, cursor = acc
    m = len(wvals)
    if m == 0:
        empty = np.empty(0, dtype=np.int64)
        return empty, empty, np.empty(0)
    csum = np.cumsum(wvals)

    if kind == "count":
        # fires at elements where the since-fire counter hits param:
        # (cursor + i + 1) % param == 0 — pure modular arithmetic, no scan
        fires = np.flatnonzero(np.mod(cursor + np.arange(1, m + 1), param) == 0)
        acc[2] = float((cursor + m) % param)
    elif kind == "delta":
        fires_l, c = _delta_fire_scan(delta_fn, param, cursor, wvals)
        fires = np.asarray(fires_l, dtype=np.int64)
        acc[2] = c
    else:
        fires = np.empty(0, dtype=np.int64)  # continuous fires on watermark

    if len(fires):
        # early-firing snapshots, all fires of the group at once
        if purging:
            cnts = np.diff(np.concatenate(([-1], fires)))
            cnts[0] = cnt0 + fires[0] + 1
            tots = np.diff(np.concatenate(([0.0], csum[fires])))
            tots[0] = total0 + csum[fires[0]]
        else:
            cnts = cnt0 + fires + 1
            tots = total0 + csum[fires]
    else:
        cnts = tots = np.empty(0)

    if purging and len(fires):
        last = int(fires[-1])
        acc[0] = m - 1 - last
        acc[1] = float(csum[-1] - csum[last])
    else:
        acc[0] = cnt0 + m
        acc[1] = total0 + float(csum[-1])
    return fires, cnts, tots


def triggered_tumble_agg(
    df: DataFrame,
    key: str,
    time_col: str,
    value_col: str,
    window_seconds: float,
    trigger: tuple[str, float],
    watermark_delay: str = "0 seconds",
    purging: bool = False,
    delta_fn=None,
    key_buckets: int | None = None,
) -> DataFrame:
    """Tumbling event-time sum/count windows with an early-firing trigger.

    ``trigger``:
    - ``("count", n)`` — CountTrigger.java: FIRE every n elements of a
      window (counted from the last firing).
    - ``("continuous", interval)`` — ContinuousEventTimeTrigger.java:
      FIRE whenever the watermark passes the next epoch-aligned
      ``interval`` boundary inside the window.
    - ``("delta", threshold)`` — DeltaTrigger.java: the window state
      keeps the element that last fired (seeded with the first
      element); FIRE when ``delta_fn(last, current) > threshold``, then
      the current element becomes the new comparison point — exactly
      the reference's onElement/ValueState<T> loop.

    ``purging=True`` wraps the trigger PurgingTrigger-style: early
    firings reset the accumulator (FIRE_AND_PURGE), so each firing
    reports only the delta since the previous one.  The final firing at
    watermark passage always purges the window.

    ``key_buckets`` shards keys into that many key groups (Flink's
    KeyGroupRangeAssignment design — see module docstring) instead of
    one stateful invocation per key; requires an integral key column.
    Results are identical; only the state sharding changes.

    Output: ``(key, w_start timestamp, cnt, total, is_final)``; rows
    behind the watermark for an already-purged window are dropped
    (Flink default without allowed lateness).
    """
    kind, param = trigger
    if kind not in ("count", "continuous", "delta"):
        raise ValueError(f"unknown trigger {kind!r}")
    if delta_fn is None:
        # the reference ships DeltaFunction as user code; the default
        # mirrors its euclidean example on the aggregated value column
        delta_fn = lambda last, cur: abs(cur - last)  # noqa: E731
    key_field = df.schema[key]
    key_name, key_ddl = key_field.name, key_field.dataType.simpleString()
    bucketed = key_buckets is not None
    if bucketed and not isinstance(key_field.dataType, _INTEGRAL):
        raise ValueError(
            f"key_buckets requires an integral key column; {key_name} is {key_ddl}"
        )
    out_schema = (
        f"{key_name} {key_ddl}, w_start timestamp, cnt long, total double, is_final boolean"
    )

    def fn(key_tuple, batches: Iterator[pd.DataFrame], state: GroupState):
        # wins: (u, ws) -> [cnt, total, cursor]; cursor NaN = DeltaTrigger's
        # empty ValueState.  u is the int64 key value on the key-group
        # path, 0 when the invocation is already per key.
        (st,) = keyed_state.load(state, (keyed_state.packed(4),))
        wins: dict[tuple[int, float], list] = {
            (int(u), float(w)): [int(c), float(t), float(cu)]
            for u, (w, c, t, cu) in zip(st.keys, st.vals)
        }
        wm = state.getCurrentWatermarkMs() / 1000.0  # global event-time watermark
        out_u: list[int] = []
        out_ws: list[float] = []
        out_cnt: list[int] = []
        out_total: list[float] = []
        out_final: list[bool] = []

        def emit(u: int, ws: float, cnt: int, total: float, final: bool) -> None:
            out_u.append(u)
            out_ws.append(ws)
            out_cnt.append(int(cnt))
            out_total.append(float(total))
            out_final.append(final)

        u_parts, ts_parts, val_parts = [], [], []
        for pdf in batches:
            ts_parts.append(keyed_state.event_us(pdf[time_col]) / 1e6)
            val_parts.append(pdf[value_col].astype(float).to_numpy())
            if bucketed:
                u_parts.append(pdf[key_name].to_numpy().astype(np.int64))
            else:
                u_parts.append(np.zeros(len(pdf), dtype=np.int64))
        ts = np.concatenate(ts_parts) if ts_parts else np.empty(0)
        if len(ts):
            vals = np.concatenate(val_parts)
            us = np.concatenate(u_parts)
            ws_all = ts - np.mod(ts, window_seconds)
            live = ws_all + window_seconds > wm  # behind-watermark rows dropped
            ts, vals, us, ws_all = ts[live], vals[live], us[live], ws_all[live]
        if len(ts):
            # key-major, then event-time order (value tiebreak); within a
            # key, ts order makes (key, window) runs contiguous
            order = np.lexsort((vals, ts, us))
            ts, vals, us, ws_all = ts[order], vals[order], us[order], ws_all[order]
            change = np.concatenate(
                ([True], (us[1:] != us[:-1]) | (ws_all[1:] != ws_all[:-1]))
            )
            starts = np.flatnonzero(change)
            ends = np.concatenate((starts[1:], [len(us)]))

            for s, e in zip(starts, ends):
                u, w = int(us[s]), float(ws_all[s])
                wvals = vals[s:e]
                acc = wins.get((u, w))
                if acc is None:
                    if kind == "count":
                        cursor = 0.0  # elements since last fire
                    elif kind == "continuous":
                        t0 = ts[s]  # next epoch-aligned boundary
                        cursor = t0 - (t0 % param) + param
                    else:
                        cursor = np.nan  # DeltaTrigger's empty ValueState
                    acc = wins[(u, w)] = [0, 0.0, cursor]
                fires, cnts, tots = _scan_group(
                    kind, param, purging, delta_fn, acc, wvals
                )
                n = len(fires)
                if n:
                    out_u.extend([u] * n)
                    out_ws.extend([w] * n)
                    out_cnt.extend(int(c) for c in cnts)
                    out_total.extend(float(t) for t in tots)
                    out_final.extend([False] * n)

        for (u, w) in sorted(wins):
            acc = wins[(u, w)]
            if kind == "continuous":
                # fire at every passed epoch-aligned boundary in the window
                while acc[2] <= wm and acc[2] < w + window_seconds:
                    emit(u, w, acc[0], acc[1], final=False)
                    if purging:
                        acc[0], acc[1] = 0, 0.0
                    acc[2] += param
            if w + window_seconds <= wm:
                emit(u, w, acc[0], acc[1], final=True)
                del wins[(u, w)]

        # event-time timer at the earliest pending deadline (next window
        # end or continuous boundary), like Flink's registerEventTimeTimer
        deadlines = [w + window_seconds for (_u, w) in wins]
        if kind == "continuous":
            deadlines += [a[2] for a in wins.values()]
        st = keyed_state.Packed(
            np.array([u for u, _w in wins], dtype=np.int64),
            np.array([[w, *a] for (_u, w), a in wins.items()], dtype=np.float64).reshape(-1, 4),
        )
        keyed_state.save(state, (st,), int(min(deadlines) * 1000) if wins else None)
        if out_ws:
            if bucketed:
                key_col = np.array(out_u, dtype=np.int64)
            else:
                key_col = key_tuple[0]  # invocation is per key
            yield pd.DataFrame(
                {
                    key_name: key_col,
                    "w_start": pd.to_datetime(np.array(out_ws), unit="s"),
                    "cnt": np.array(out_cnt, dtype="int64"),
                    "total": np.array(out_total, dtype="float64"),
                    "is_final": np.array(out_final, dtype="bool"),
                }
            )

    return keyed_state.apply(
        df.withWatermark(time_col, watermark_delay), [key], fn, out_schema,
        "buf binary", key_buckets,
    )
