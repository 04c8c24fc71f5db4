"""The keyed-state core every stateful streaming operator runs on.

The reference runs all keyed operators on one keyed state backend
(flink-runtime/.../state/heap/HeapKeyedStateBackend.java): per-key
state, event-time timers and key-group sharding
(KeyGroupRangeAssignment.java) live in one place.  This module is that
place for the ``applyInPandasWithState`` operators:

- ``key_groups`` / ``apply`` — the stateful shuffle: per key, or per
  hashed key group ``pmod(xxhash64(keys), key_buckets)`` so one Python
  invocation serves every key of the group;
- ``load`` / ``save`` — the state tuple.  Each field is encoded by the
  type of its empty value: a DataFrame rides as an Arrow IPC stream
  (typed, no pickle), a ``Packed`` matrix as raw bytes (an exact int64
  key column plus float64 values), anything else as the Spark value
  itself.  ``save`` removes the entry when nothing is left and arms the
  event-time timer, never at or below the watermark;
- ``event_us`` / ``split_at_watermark`` — event time as int64
  microseconds, and the stable sort plus ready/keep split of a pending
  row buffer at the watermark.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, GroupedData
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import _to_corrected_pandas_type
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType

TIMEOUTS = {
    "NoTimeout": GroupStateTimeout.NoTimeout,
    "ProcessingTimeTimeout": GroupStateTimeout.ProcessingTimeTimeout,
    "EventTimeTimeout": GroupStateTimeout.EventTimeTimeout,
}


class Packed(NamedTuple):
    """Numeric per-key state: ``keys`` (n,) int64, exact at any
    magnitude, and ``vals`` (n, k) float64."""

    keys: np.ndarray
    vals: np.ndarray


def packed(k: int) -> Packed:
    """An empty ``Packed`` with ``k`` value columns."""
    return Packed(np.empty(0, dtype=np.int64), np.empty((0, k)))


def frame(schema: StructType, cols: list[str], **dtypes) -> pd.DataFrame:
    """A typed empty frame of ``cols``: dtypes as Spark hands the
    ``schema`` fields to pandas, ``dtypes`` for derived columns."""

    def dtype(c):
        if c in dtypes:
            return dtypes[c]
        return _to_corrected_pandas_type(schema[c].dataType) or object

    return pd.DataFrame({c: pd.Series(dtype=dtype(c)) for c in cols})


def key_groups(df: DataFrame, keys: list[str], key_buckets: int | None = None) -> GroupedData:
    """``groupBy(keys)``, or with ``key_buckets`` the hashed key group
    column ``__kg`` (the grouped frames keep every input column)."""
    if key_buckets is None:
        return df.groupBy(*keys)
    kg = F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(key_buckets))
    return df.withColumn("__kg", kg).groupBy("__kg")


def apply(
    df: DataFrame,
    keys: list[str],
    fn,
    out_schema: str,
    state_schema: str,
    key_buckets: int | None = None,
    mode: str = "append",
    timeout: str = "EventTimeTimeout",
) -> DataFrame:
    """Run ``fn(key, batches, state)`` over ``key_groups(df, keys,
    key_buckets)``; ``timeout`` is a ``TIMEOUTS`` name."""
    return key_groups(df, keys, key_buckets).applyInPandasWithState(
        fn, out_schema, state_schema, mode, TIMEOUTS[timeout]
    )


def event_us(s: pd.Series) -> np.ndarray:
    """Event times as int64 microseconds since the epoch."""
    return s.astype("datetime64[us]").astype("int64").to_numpy()


def concat(parts: list[pd.DataFrame], cols: list[str]) -> pd.DataFrame:
    """Concatenate non-empty frames (empty frame with cols if none)."""
    parts = [p for p in parts if len(p)]
    if not parts:
        return pd.DataFrame(columns=cols)
    return pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]


def split_at_watermark(
    pend: pd.DataFrame, sort_cols: list[str], time_col: str, wm_ms: int
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Stable-sort ``pend`` by ``sort_cols`` and split it into the rows
    at or behind the watermark (``ready``) and the rest (``keep``)."""
    if not len(pend):
        return pend, pend
    pend = pend.sort_values(sort_cols, kind="stable", ignore_index=True)
    ready = event_us(pend[time_col]) <= wm_ms * 1000
    return pend[ready], pend[~ready]


def _decode(value, empty):
    if isinstance(empty, pd.DataFrame):
        if not value:
            return empty.copy()
        return pa.ipc.open_stream(pa.BufferReader(bytes(value))).read_all().to_pandas()
    if isinstance(empty, Packed):
        k = empty.vals.shape[1]
        n = len(value) // (8 * (k + 1))
        return Packed(
            np.frombuffer(value, dtype="<i8", count=n),
            np.frombuffer(value, dtype="<f8", offset=8 * n).reshape(n, k),
        )
    return value


def _encode(value):
    if isinstance(value, pd.DataFrame):
        if not len(value):
            return b""
        tbl = pa.Table.from_pandas(value, preserve_index=False)
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tbl.schema) as w:
            w.write_table(tbl)
        return sink.getvalue().to_pybytes()
    if isinstance(value, Packed):
        keys = np.ascontiguousarray(value.keys, dtype="<i8")
        return keys.tobytes() + np.ascontiguousarray(value.vals, dtype="<f8").tobytes()
    return value


def _is_empty(value) -> bool:
    if isinstance(value, Packed):
        return not len(value.keys)
    return isinstance(value, (pd.DataFrame, np.ndarray, list)) and not len(value)


def load(state: GroupState, empty: tuple) -> tuple:
    """The group's state tuple, each field decoded by the type of its
    ``empty`` value; ``empty`` itself when the group has no state."""
    if not state.exists:
        return tuple(e.copy() if isinstance(e, pd.DataFrame) else e for e in empty)
    return tuple(_decode(v, e) for v, e in zip(state.get, empty))


def save(state: GroupState, fields: tuple | None, wake_ms: int | None = None) -> None:
    """Store ``fields``, or remove the entry when ``fields`` is None or
    every field is an empty buffer.  ``wake_ms`` arms the event-time
    timer at ``max(wake_ms, watermark_ms + 1)``."""
    if fields is None or all(_is_empty(f) for f in fields):
        if state.exists:
            state.remove()
        return
    state.update(tuple(_encode(f) for f in fields))
    if wake_ms is not None:
        state.setTimeoutTimestamp(max(int(wake_ms), state.getCurrentWatermarkMs() + 1))
