"""Unit tests for the benchmark's own bookkeeping (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from streamfeed import (
    backlog_max,
    chunk_batches,
    chunk_latencies,
    load_events,
    write_chunks,
)
from tracing import Span, percentile, self_time, union_length


def test_chunk_maps_to_batch_holding_its_last_row():
    # chunks of 10 rows; batches commit 10, 25, 5, 0 (no-data), 10 rows
    chunks = [10, 10, 10, 10]
    batches = [10, 25, 5, 0, 10]
    # cumulative chunk ends 10, 20, 30, 40 vs batch ends 10, 35, 40, 40, 50
    assert chunk_batches(chunks, batches) == [0, 1, 1, 2]


def test_chunk_split_across_batches_counts_the_later_batch():
    # maxFilesPerTrigger never splits a file, but the mapping must still
    # be monotone if rows straddle a batch boundary
    assert chunk_batches([5, 5], [3, 7]) == [1, 1]


def test_chunk_never_committed_is_none():
    assert chunk_batches([4, 4, 4], [4, 4]) == [0, 1, None]


def test_latency_is_due_time_to_commit_of_holding_batch():
    due = [0.0, 1.0, 2.0]
    lat = chunk_latencies(due, [1, 1, 1], [2, 1], batch_end=[1.5, 4.0])
    assert lat == [1.5, 0.5, 2.0]


def test_backlog_counts_arrived_but_uncommitted():
    arrived = [0.0, 1.0, 2.0, 3.0]
    committed = [2.5, 2.5, 2.5, 3.5]
    # at t=2.0 three chunks wait; at t=3.0 only the last
    assert backlog_max(arrived, committed) == 3
    assert backlog_max([0.0, 1.0], [0.5, None]) == 1


def _span(name, start, end, parent=None):
    return Span(name, start, end, name, parent, "t")


def test_self_time_subtracts_covered_part_once():
    parent = _span("query", 0.0, 10.0)
    kids = [
        _span("stage", 1.0, 4.0, "query"),
        _span("stage", 3.0, 5.0, "query"),  # overlaps the first
        _span("stage", 8.0, 12.0, "query"),  # runs past the parent
    ]
    # covered: [1, 5) + [8, 10) = 6
    assert self_time(parent, kids) == 4.0


def test_self_time_without_children_is_duration():
    assert self_time(_span("build", 2.0, 3.5), []) == 1.5


def test_union_length_ignores_empty_intervals():
    assert union_length([(0, 1), (2, 2), (1, 3)]) == 3


def test_percentile_of_one_sample_is_the_sample():
    assert percentile([2.0], 90) == 2.0
    assert percentile(list(range(1, 101)), 50) == 50.5


def test_chunks_are_time_contiguous_shuffled_and_end_with_sentinel(tmp_path):
    ts = pa.array(np.arange(100) * 1_000_000, pa.timestamp("us"))
    events = pa.table({
        "event_id": pa.array(range(100), pa.int64()),
        "ts": ts,
        "user_id": pa.array([i % 7 for i in range(100)], pa.int64()),
        "event_type": ["view"] * 100,
        "value": pa.array([float(i) for i in range(100)]),
        "props": ["{}"] * 100,
    })
    pq.write_table(events, tmp_path / "events.parquet")
    ev = load_events(str(tmp_path))
    out = write_chunks(ev, str(tmp_path / "c"), 4, np.random.default_rng(3), "x")
    assert [r for _, r in out] == [25, 25, 25, 25, 1]
    assert [p for p, _ in out] == sorted(p for p, _ in out)
    parts = [pq.read_table(p) for p, _ in out]
    ids = [t["event_id"].to_pylist() for t in parts[:-1]]
    assert [sorted(i) for i in ids] == [list(range(k, k + 25)) for k in (0, 25, 50, 75)]
    assert any(i != sorted(i) for i in ids)  # rows shuffled within chunks
    assert parts[-1]["user_id"].to_pylist() == [-1]
    assert parts[-1]["ts"][0].as_py() > ev["ts"][-1].as_py()
