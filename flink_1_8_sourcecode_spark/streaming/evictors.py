"""Window evictors — CountEvictor / TimeEvictor / DeltaEvictor parity
(flink-streaming-java/.../windowing/evictors/CountEvictor.java,
TimeEvictor.java, DeltaEvictor.java): remove elements from a window's
buffer before the window function applies.

Spark's windowed aggregation never exposes the element buffer, so
evicted windows run in the stateful layer: per (key, open window) the
state holds the SURVIVING element buffer only — count/time evictors are
suffix-keepers, so eviction is applied eagerly on every micro-batch and
state stays bounded at ``n`` elements (count evictor) or one time-span
(time evictor), never the full window.  The window function (sum/count
here) applies to the survivors when the global watermark closes the
window — evict-before-apply, the reference default (``doEvictAfter=false``).

Scale notes: ``key_buckets`` shards keys into Flink-style key groups
(KeyGroupRangeAssignment.java — see ``triggers.py`` module docstring);
the element buffer rides as a ``keyed_state.Packed`` matrix (exact
int64 key, float64 window/time/value); eviction is vectorized numpy —
a lexsort per bucket-batch plus boolean masks, no per-element Python.
The user-supplied ``delta_fn`` is tried on whole numpy arrays first and
falls back to per-element calls only if it is not vectorizable.
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


def evicted_tumble_agg(
    df: DataFrame,
    key: str,
    time_col: str,
    value_col: str,
    window_seconds: float,
    evictor: tuple[str, float],
    watermark_delay: str = "0 seconds",
    delta_fn=None,
    key_buckets: int | None = None,
) -> DataFrame:
    """Tumbling event-time windows whose buffer passes through an
    evictor before aggregating:

    - ``("count", n)`` — CountEvictor.java: keep only the LAST n
      elements (in event-time order) of each window;
    - ``("time", span)`` — TimeEvictor.java: keep elements with
      ``ts > max_ts_in_window - span``;
    - ``("delta", threshold)`` — DeltaEvictor.java: evict every element
      whose ``delta_fn(element, last_element) >= threshold``, where
      ``last_element`` is the window's final element.

    Count/time evictors are suffix-keepers, so eviction applies eagerly
    on every arrival and state stays bounded.  The delta evictor is
    relative to the LAST element — which isn't known until the window
    closes — so its windows buffer every element, exactly like the
    reference's EvictingWindowOperator (which keeps the full element
    list for ANY evictor); eviction then runs once at firing time
    (evict-before-apply, doEvictAfter=false).

    ``key_buckets`` shards keys into that many key groups (requires an
    integral key column); results are identical, only the state
    sharding changes.

    Output: ``(key, w_start, cnt, total)`` over the surviving elements,
    one row per window at watermark passage.
    """
    kind, param = evictor
    if kind not in ("count", "time", "delta"):
        raise ValueError(f"unknown evictor {kind!r}")
    if delta_fn is None:
        delta_fn = lambda e, last: abs(e - last)  # noqa: E731
    key_field = df.schema[key]
    key_name, key_ddl = key_field.name, key_field.dataType.simpleString()
    bucketed = key_buckets is not None
    if bucketed and not isinstance(key_field.dataType, _INTEGRAL):
        raise ValueError(
            f"key_buckets requires an integral key column; {key_name} is {key_ddl}"
        )
    out_schema = f"{key_name} {key_ddl}, w_start timestamp, cnt long, total double"

    def delta_keep_mask(varr: np.ndarray, last_v: float) -> np.ndarray:
        """Survivors under the delta rule (delta < threshold); vectorized
        call first, per-element fallback for non-vectorizable user fns."""
        try:
            r = np.asarray(delta_fn(varr, last_v))
            if r.shape == varr.shape:
                return r < param
        except Exception:
            pass
        return np.array([delta_fn(float(x), last_v) < param for x in varr], dtype=bool)

    def fn(key_tuple, batches: Iterator[pd.DataFrame], state: GroupState):
        # element buffer: int64 key u (0 when the invocation is already
        # per key) plus a float64 (ws, t, v) matrix
        (st,) = keyed_state.load(state, (keyed_state.packed(3),))
        u_parts, parts = [st.keys], [st.vals]
        wm = state.getCurrentWatermarkMs() / 1000.0

        for pdf in batches:
            t = keyed_state.event_us(pdf[time_col]) / 1e6
            v = pdf[value_col].astype(float).to_numpy()
            if bucketed:
                u = pdf[key_name].to_numpy().astype(np.int64)
            else:
                u = np.zeros(len(pdf), dtype=np.int64)
            ws = t - np.mod(t, window_seconds)
            live = ws + window_seconds > wm  # behind-watermark: window already fired
            if live.any():
                u_parts.append(u[live])
                parts.append(np.column_stack((ws[live], t[live], v[live])))

        us, buf = np.concatenate(u_parts), np.vstack(parts)

        def group_bounds(u: np.ndarray, ws: np.ndarray):
            """Start/end indices of each (u, ws) run (buf sorted)."""
            change = np.concatenate(([True], (u[1:] != u[:-1]) | (ws[1:] != ws[:-1])))
            starts = np.flatnonzero(change)
            ends = np.concatenate((starts[1:], [len(u)]))
            return starts, ends

        if len(buf):
            # key-major, event-time order (value tiebreak) within each
            # window — the order the reference's TimestampedValue buffer
            # is consumed in
            order = np.lexsort((buf[:, 2], buf[:, 1], buf[:, 0], us))
            us, buf = us[order], buf[order]
            if kind != "delta":
                # eager suffix-keeping eviction keeps state bounded; delta
                # buffers everything until firing (needs the last element)
                starts, ends = group_bounds(us, buf[:, 0])
                grp_end = np.repeat(ends, ends - starts)
                if kind == "count":
                    # keep the last n per window
                    keep = grp_end - np.arange(len(buf)) <= int(param)
                else:
                    # keep one span behind each window's max timestamp
                    keep = buf[:, 1] > buf[grp_end - 1, 1] - param
                us, buf = us[keep], buf[keep]

        out_rows: list[tuple[int, float, int, float]] = []
        if len(buf):
            closing = buf[:, 0] + window_seconds <= wm
            fired_u, fired = us[closing], buf[closing]
            us, buf = us[~closing], buf[~closing]
            if len(fired):
                starts, ends = group_bounds(fired_u, fired[:, 0])
                for s, e in zip(starts, ends):
                    varr = fired[s:e, 2]
                    if kind == "delta":
                        varr = varr[delta_keep_mask(varr, float(varr[-1]))]
                    out_rows.append(
                        (int(fired_u[s]), float(fired[s, 0]), len(varr), float(varr.sum()))
                    )

        wake_ms = int((buf[:, 0].min() + window_seconds) * 1000) if len(buf) else None
        keyed_state.save(state, (keyed_state.Packed(us, buf),), wake_ms)
        if out_rows:
            u_arr, ws_arr, cnt_arr, tot_arr = zip(*out_rows)
            if bucketed:
                key_col = np.array(u_arr, dtype=np.int64)
            else:
                key_col = key_tuple[0]  # invocation is per key
            yield pd.DataFrame(
                {
                    key_name: key_col,
                    "w_start": pd.to_datetime(np.array(ws_arr), unit="s"),
                    "cnt": np.array(cnt_arr, dtype="int64"),
                    "total": np.array(tot_arr, dtype="float64"),
                }
            )

    return keyed_state.apply(
        df.withWatermark(time_col, watermark_delay), [key], fn, out_schema,
        "buf binary", key_buckets,
    )
