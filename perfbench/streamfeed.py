"""Input side of the ``stream_events`` workload, independent of the engine.

The events table is cut with pyarrow into time-ordered parquet chunk
files, rows shuffled within each chunk by the workload seed (bounded
out-of-order input).  A feeder thread moves staged chunks into the
watched directory on a fixed schedule (open loop) and stamps each
chunk's due and actual time.  The functions at the bottom map chunks to
the micro-batches that committed them, by cumulative input rows.
"""

from __future__ import annotations

import bisect
import datetime as dt
import os
import threading
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SENTINEL_USER = -1


def load_events(sf_dir: str) -> pa.Table:
    """The events table in event-time order, ts at microsecond precision
    (what the engine reads)."""
    t = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    t = t.set_column(
        t.schema.get_field_index("ts"), "ts", t["ts"].cast(pa.timestamp("us"))
    )
    return t.sort_by([("ts", "ascending"), ("event_id", "ascending")])


def sentinel_table(events: pa.Table) -> pa.Table:
    """One far-future row (user_id -1) that moves the watermark past every
    window, closing them all: the bounded-input end-of-stream marker."""
    max_ts = pc.max(events["ts"]).as_py()
    return pa.table(
        {
            "event_id": pa.array([10**9], pa.int64()),
            "ts": pa.array([max_ts + dt.timedelta(days=30)], pa.timestamp("us")),
            "user_id": pa.array([SENTINEL_USER], pa.int64()),
            "event_type": ["noop"],
            "value": pa.array([0.0], pa.float64()),
            "props": ["{}"],
        },
        schema=events.schema.remove_metadata(),
    )


def write_chunks(
    events: pa.Table, out_dir: str, n_chunks: int, rng: np.random.Generator,
    prefix: str,
) -> list[tuple[str, int]]:
    """Cut ``events`` (already time-ordered) into ``n_chunks`` contiguous
    chunk files, each row-shuffled by ``rng``, plus a final sentinel
    chunk.  Returns ``[(path, rows)]`` in stream order; the file names
    sort in the same order."""
    os.makedirs(out_dir, exist_ok=True)
    events = events.replace_schema_metadata(None)
    bounds = np.linspace(0, events.num_rows, n_chunks + 1).astype(int)
    out = []
    for i in range(n_chunks):
        part = events.slice(bounds[i], bounds[i + 1] - bounds[i])
        part = part.take(rng.permutation(part.num_rows))
        path = os.path.join(out_dir, f"{prefix}{i:05d}.parquet")
        pq.write_table(part, path)
        out.append((path, part.num_rows))
    path = os.path.join(out_dir, f"{prefix}{n_chunks:05d}_sentinel.parquet")
    pq.write_table(sentinel_table(events), path)
    out.append((path, 1))
    return out


@dataclass
class Arrival:
    name: str
    rows: int
    due: float
    moved: float


class PacedFeeder:
    """Open-loop generator: chunk ``i`` is due at ``start + i / rate`` and
    is renamed into ``watch_dir`` then, whatever the engine is doing.
    The sentinel chunk (last) is due with the last data chunk."""

    def __init__(self, staged: list[tuple[str, int]], watch_dir: str, rate: float):
        self.staged = staged
        self.watch_dir = watch_dir
        self.rate = rate
        self.arrivals: list[Arrival] = []
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.error: BaseException | None = None

    def start(self, t0: float) -> None:
        self.t0 = t0
        self._thread.start()

    def join(self, timeout: float) -> None:
        self._thread.join(timeout)
        if self._thread.is_alive():
            raise TimeoutError("paced feeder did not finish")
        if self.error is not None:
            raise self.error

    def _run(self) -> None:
        try:
            last = len(self.staged) - 2
            for i, (path, rows) in enumerate(self.staged):
                due = self.t0 + min(i, last) / self.rate
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                name = os.path.basename(path)
                os.rename(path, os.path.join(self.watch_dir, name))
                self.arrivals.append(Arrival(name, rows, due, time.time()))
        except BaseException as e:  # surfaced by join()
            self.error = e


# ------------------------------------------------------ chunk -> batch mapping


def chunk_batches(chunk_rows: list[int], batch_rows: list[int]) -> list[int | None]:
    """Index of the micro-batch that committed the last row of each chunk.

    Chunks are read in order, so chunk ``i`` ends at cumulative row
    ``sum(chunk_rows[:i + 1])``; it is committed by the first batch whose
    cumulative input rows reach that count.  ``None`` when the batches
    never reach it."""
    cum_b = np.cumsum(batch_rows).tolist()
    out: list[int | None] = []
    total = 0
    for r in chunk_rows:
        total += r
        b = bisect.bisect_left(cum_b, total)
        out.append(b if b < len(cum_b) else None)
    return out


def chunk_latencies(
    due: list[float], chunk_rows: list[int], batch_rows: list[int],
    batch_end: list[float],
) -> list[float | None]:
    """Per chunk: due time until the commit of the batch holding it."""
    return [
        None if b is None else batch_end[b] - d
        for d, b in zip(due, chunk_batches(chunk_rows, batch_rows))
    ]


def backlog_max(arrived: list[float], committed: list[float | None]) -> int:
    """Largest number of chunks that had arrived but were not yet
    committed, looking at each arrival instant."""
    worst = 0
    for t in arrived:
        waiting = sum(
            1 for a, c in zip(arrived, committed) if a <= t and (c is None or c > t)
        )
        worst = max(worst, waiting)
    return worst
