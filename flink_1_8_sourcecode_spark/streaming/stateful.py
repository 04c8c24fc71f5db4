"""Custom stateful streaming operators over applyInPandasWithState.

Reference parity:
- KeyedProcessFunction + keyed state + timers
  (flink-streaming-java/.../functions/ProcessFunction.java:51,
  flink-core/.../api/common/state/) -> ``keyed_process`` wraps
  applyInPandasWithState: GroupState holds the user state tuple, state
  timeouts stand in for timers, watermark for event-time progress.
- Count windows (KeyedStream.countWindow, KeyedStream.java:642; Flink has
  no SQL/Table form) -> ``count_window_agg``: per-key element counter in
  state, emits one row per full window of N elements.

State: every operator here runs on ``keyed_state`` — the state
encoding, the watermark split, event-time timers and key-group sharding
(per groupBy key, or hashed key groups) live there.  State stays small
(counters/ring buffers), never whole groups; all per-batch work is
vectorized (stable sorts, watermark splits, carry+cumsum running
aggregates, shared ``triggers._scan_group`` firing math) — no per-row
Python in any of these operators.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState

from flink_1_8_sourcecode_spark.streaming import keyed_state


def keyed_process(
    df: DataFrame,
    keys: list[str],
    func: Callable[[Any, Iterator[pd.DataFrame], GroupState], Iterator[pd.DataFrame]],
    output_schema: str,
    state_schema: str,
    timeout: str = "NoTimeout",
) -> DataFrame:
    """ProcessFunction-grade escape hatch: user func sees (key, batches,
    state) exactly like applyInPandasWithState, with Flink-style timeout
    names ('NoTimeout' | 'ProcessingTimeTimeout' | 'EventTimeTimeout')."""
    return keyed_state.apply(
        df, keys, func, output_schema, state_schema, mode="update", timeout=timeout
    )


def event_time_running_agg(
    df: DataFrame,
    key: str,
    time_col: str,
    value_col: str,
    watermark_delay: str,
    tiebreak: str | None = None,
) -> DataFrame:
    """Streaming unbounded-preceding OVER on event time — Flink's
    RowTimeUnboundedOver (flink-table/.../runtime/aggregate/
    RowTimeUnboundedOver.scala): one output row per input row carrying
    the running sum/count over all earlier events of the key.

    Out-of-order arrivals are buffered in state; rows are emitted in
    event-time order once the watermark passes them (same firing rule as
    the reference's over-window state cleanup).  Emits append-mode rows
    (key, time, tiebreak?, value, running_sum, running_cnt).

    Per batch the work is one stable sort + watermark split + cumsum —
    the running sums fall out of ``carry + cumsum`` with no per-row
    Python.
    """
    import numpy as np

    src = df.withWatermark(time_col, watermark_delay)
    key_t = src.schema[key].dataType.simpleString()
    tb = [tiebreak] if tiebreak else []
    tb_schema = f", {tiebreak} {src.schema[tiebreak].dataType.simpleString()}" if tiebreak else ""
    out_schema = (
        f"{key} {key_t}, {time_col} timestamp{tb_schema}, "
        f"{value_col} double, running_sum double, running_cnt long"
    )
    buf_cols = [time_col, *tb, value_col]
    empty = (keyed_state.frame(src.schema, buf_cols), 0.0, 0)

    def fn(key_tuple, batches, state: GroupState):
        buf, total, cnt = keyed_state.load(state, empty)
        pend = keyed_state.concat([buf, *(pdf[buf_cols] for pdf in batches)], buf_cols)
        ready, keep = keyed_state.split_at_watermark(
            pend, [time_col, *tb], time_col, state.getCurrentWatermarkMs()
        )
        out = None
        if len(ready):
            vals = ready[value_col].astype(float).to_numpy()
            cs = np.cumsum(vals)
            out = pd.DataFrame(
                {
                    key: key_tuple[0],
                    time_col: ready[time_col].to_numpy(),
                    **{t: ready[t].to_numpy() for t in tb},
                    value_col: vals,
                    "running_sum": total + cs,
                    "running_cnt": cnt + np.arange(1, len(vals) + 1, dtype="int64"),
                }
            )
            total += float(cs[-1])
            cnt += len(vals)

        # wake when the watermark passes the earliest pending row, so a
        # group that stops receiving data still flushes (Flink's
        # over-window registers the same timer)
        wake_ms = keyed_state.event_us(keep[time_col]).min() // 1000 + 1 if len(keep) else None
        keyed_state.save(state, (keep, float(total), int(cnt)), wake_ms)
        if out is not None:
            yield out

    return keyed_state.apply(
        src, [key], fn, out_schema, "buf binary, total double, cnt long"
    )


def count_window_agg(
    df: DataFrame,
    key: str,
    value_col: str,
    window_size: int,
) -> DataFrame:
    """Per-key tumbling COUNT window (KeyedStream.countWindow(n)):
    emits (key, window_seq, cnt, total) for every N-th element.

    State = (elements_in_current_window, running_sum, windows_emitted);
    carry-over partial windows stay in state until filled — identical to
    Flink's count-trigger semantics (CountTrigger.java).  A count window
    IS a purging count trigger, so the firing math is the shared
    vectorized ``triggers._scan_group`` (modular arithmetic over
    cumulative counts, cumsum-diff totals — no per-element Python).
    """
    import numpy as np

    from flink_1_8_sourcecode_spark.streaming.triggers import _scan_group

    # derive the key column's name/type from the input so string or
    # otherwise-typed keys keep their schema (not a hardcoded 'key long')
    key_field = df.schema[key]
    key_name, key_ddl = key_field.name, key_field.dataType.simpleString()

    def fn(key_tuple, batches: Iterator[pd.DataFrame], state: GroupState):
        cnt, total, emitted = keyed_state.load(state, (0, 0.0, 0))
        parts = [pdf[value_col].astype(float).to_numpy() for pdf in batches]
        vals = np.concatenate(parts) if parts else np.empty(0)
        # count window == count trigger with FIRE_AND_PURGE: cursor is the
        # same elements-since-fire counter as cnt
        acc = [int(cnt), float(total), float(cnt)]
        fires, cnts, tots = _scan_group(
            "count", window_size, True, None, acc, vals
        )
        n_fires = len(fires)
        keyed_state.save(state, (int(acc[0]), float(acc[1]), int(emitted) + n_fires))
        if n_fires:
            yield pd.DataFrame(
                {
                    key_name: key_tuple[0],
                    "window_seq": np.arange(emitted, emitted + n_fires, dtype="int32"),
                    "cnt": cnts.astype("int32"),
                    "total": tots.astype("float64"),
                }
            )

    return keyed_state.apply(
        df, [key], fn,
        f"{key_name} {key_ddl}, window_seq int, cnt int, total double",
        "cnt int, total double, emitted int",
        timeout="NoTimeout",
    )


_INTERVAL_UNIT_S = {
    "millisecond": 1e-3, "second": 1.0, "minute": 60.0, "hour": 3600.0,
    "day": 86400.0, "week": 604800.0,
}

# "auto" ROWS idle retention: 30 event-time days, floored at 100x the
# declared disorder bound — two orders of magnitude beyond the contract
AUTO_IDLE_RETENTION_MIN_S = 30 * 86400.0
AUTO_IDLE_RETENTION_DELAY_FACTOR = 100.0


def _interval_seconds(delay: str) -> float:
    """Seconds in a Spark watermark-delay interval string — single
    (``"30 minutes"``) or compound (``"1 hour 30 minutes"``), the same
    forms ``withWatermark`` accepts."""
    import re

    unit_re = r"(\d+(?:\.\d+)?)\s*(millisecond|second|minute|hour|day|week)s?"
    parts = re.findall(unit_re, delay.lower())
    # strict: every token must belong to a (number, unit) pair — reject
    # "3 fortnights" loudly instead of silently dropping it
    if not parts or re.sub(unit_re, "", delay.lower()).strip():
        raise ValueError(f"unparseable interval string: {delay!r}")
    return sum(float(n) * _INTERVAL_UNIT_S[u] for n, u in parts)


def event_time_bounded_agg(
    df: DataFrame,
    key: str,
    time_col: str,
    value_col: str,
    watermark_delay: str,
    preceding_rows: int | None = None,
    preceding_seconds: float | None = None,
    tiebreak: str | None = None,
    idle_retention_seconds: "float | str | None" = "auto",
) -> DataFrame:
    """Streaming BOUNDED event-time OVER — Flink's
    RowTimeBoundedRowsOver.scala:44 (``ROWS BETWEEN n PRECEDING AND
    CURRENT ROW``) and RowTimeBoundedRangeOver.scala (``RANGE BETWEEN
    INTERVAL ... PRECEDING AND CURRENT ROW``): one output row per input
    row carrying sum/count of ``value_col`` over the bounded frame, in
    event-time order per key, finalized once the watermark passes
    (append mode — no retractions needed, exactly the reference's
    emit-on-cleanup discipline).

    Exactly one of ``preceding_rows`` (ROWS frame: the n PRECEDING
    bound — frame size n+1 rows) / ``preceding_seconds`` (RANGE frame,
    peer-inclusive at the current timestamp, matching SQL RANGE
    semantics) must be given.

    State per key = two Arrow-IPC blobs: the pending buffer (rows the
    watermark hasn't passed) and the RETAINED HISTORY — the reference's
    expiring-state trick: only the last ``preceding_rows`` rows (ROWS)
    or rows within ``preceding_seconds`` of the watermark (RANGE) stay,
    so state is frame-bounded, never stream-bounded.  Per batch the
    work is a stable sort, a boolean watermark split, and one
    vectorized rolling-sum (ROWS) or prefix-sum + searchsorted (RANGE)
    — no per-row Python.

    Idle keys don't leak state (the reference's cleanup-timer
    discipline, ProcessFunctionWithCleanupState): RANGE history is
    provably dead once the watermark passes ``hist_max +
    preceding_seconds`` — a cleanup timer removes it then, exactly
    (no semantic change).  ROWS history can in principle reach ANY
    future row, so a finite TTL is always a semantic trade (Flink's
    ``minIdleStateRetentionTime``: after removal a resumed key
    restarts its frame — the reference's documented TTL semantics).
    ``idle_retention_seconds`` picks the trade:

    - ``"auto"`` (DEFAULT) — drop a key's ROWS history after
      ``max(30 event-time days, 100 x the watermark delay)`` of
      idleness: state is bounded at 100 TB even with unbounded key
      churn, and a key silent for two orders of magnitude beyond the
      stream's own declared disorder bound (and a month of event
      time) is treated as departed.
    - a float — explicit TTL in event-time seconds.
    - ``None`` — retain forever: exact frame semantics across any
      idle gap (the reference's out-of-the-box default, state growth
      O(active ∪ departed keys)).
    """
    import numpy as np

    if (preceding_rows is None) == (preceding_seconds is None):
        raise ValueError(
            "event_time_bounded_agg: exactly one of preceding_rows / "
            "preceding_seconds must be set"
        )
    if preceding_rows is not None and preceding_rows < 0:
        raise ValueError(f"preceding_rows must be >= 0, got {preceding_rows}")
    if preceding_seconds is not None and preceding_seconds < 0:
        raise ValueError(f"preceding_seconds must be >= 0, got {preceding_seconds}")
    if idle_retention_seconds == "auto":
        idle_retention_seconds = max(
            AUTO_IDLE_RETENTION_MIN_S,
            AUTO_IDLE_RETENTION_DELAY_FACTOR * _interval_seconds(watermark_delay),
        )
    elif isinstance(idle_retention_seconds, str):
        raise ValueError(
            f"idle_retention_seconds: expected 'auto', a float, or None; "
            f"got {idle_retention_seconds!r}"
        )

    src = df.withWatermark(time_col, watermark_delay)
    key_t = src.schema[key].dataType.simpleString()
    tb = [tiebreak] if tiebreak else []
    tb_schema = (
        f", {tiebreak} {src.schema[tiebreak].dataType.simpleString()}" if tiebreak else ""
    )
    out_schema = (
        f"{key} {key_t}, {time_col} timestamp{tb_schema}, "
        f"{value_col} double, w_sum double, w_cnt long"
    )
    buf_cols = [time_col, *tb, value_col]
    empty_buf = keyed_state.frame(src.schema, buf_cols)

    def fn(key_tuple, batches, state: GroupState):
        hist, pend, emitted = keyed_state.load(state, (empty_buf, empty_buf, 0))
        pend = keyed_state.concat([pend, *(pdf[buf_cols] for pdf in batches)], buf_cols)
        wm_ms = state.getCurrentWatermarkMs()
        # nothing buffered and nothing arrived => this firing can only
        # be an idle-cleanup timer (the emit timer is armed only when
        # pending rows exist)
        pure_cleanup = state.hasTimedOut and not len(pend)

        ready, keep = keyed_state.split_at_watermark(
            pend, [time_col, *tb], time_col, wm_ms
        )
        out = None
        if len(ready):
            # history rows all precede ready rows in event time (they
            # were emitted behind an earlier watermark) — plain concat
            # preserves the per-key event-time order
            comb = keyed_state.concat([hist, ready.reset_index(drop=True)], buf_cols)
            vals = comb[value_col].astype(float).to_numpy()
            nh = len(hist)
            nr = len(ready)
            if preceding_rows is not None:
                n = preceding_rows + 1  # frame size incl. current
                w_sum = pd.Series(vals).rolling(n, min_periods=1).sum().to_numpy()[nh:]
                # logical position counts rows PRUNED from history
                pos = emitted + np.arange(1, nr + 1, dtype="int64")
                w_cnt = np.minimum(pos, n)
            else:
                ts_all = keyed_state.event_us(comb[time_col])
                cs = np.concatenate([[0.0], np.cumsum(vals)])
                t_ready = ts_all[nh:]
                lo = np.searchsorted(
                    ts_all, t_ready - int(preceding_seconds * 1e6), side="left"
                )
                # peer-inclusive upper bound (SQL RANGE CURRENT ROW)
                hi = np.searchsorted(ts_all, t_ready, side="right")
                w_sum = cs[hi] - cs[lo]
                w_cnt = (hi - lo).astype("int64")
            out = pd.DataFrame(
                {
                    key: key_tuple[0],
                    time_col: ready[time_col].to_numpy(),
                    **{t: ready[t].to_numpy() for t in tb},
                    value_col: ready[value_col].astype(float).to_numpy(),
                    "w_sum": w_sum,
                    "w_cnt": w_cnt,
                }
            )
            emitted += nr
            # retain exactly the frame-reachable tail (RANGE: pruned below)
            if preceding_rows is not None:
                hist = comb.iloc[len(comb) - min(len(comb), preceding_rows):]
            else:
                hist = comb

        # RANGE history older than wm - preceding can never reach a
        # future frame (future rows have ts > wm) — prune it even on
        # timeout-only firings with no ready rows
        if preceding_seconds is not None and len(hist):
            cut = int((wm_ms / 1000.0 - preceding_seconds) * 1e6)
            hist = hist[keyed_state.event_us(hist[time_col]) > cut]
        rows_idle_drop = (
            preceding_rows is not None
            and idle_retention_seconds is not None
            and pure_cleanup
        )
        if (not len(keep) and not len(hist)) or rows_idle_drop:
            keyed_state.save(state, None)
        else:
            if len(keep):
                wake_ms = keyed_state.event_us(keep[time_col]).min() // 1000 + 1
            elif preceding_seconds is not None:
                # RANGE: fire exactly when the retained tail goes dead
                hmax_ms = keyed_state.event_us(hist[time_col]).max() / 1e3
                wake_ms = int(hmax_ms + preceding_seconds * 1e3) + 1
            elif idle_retention_seconds is not None:
                # ROWS + configured retention: drop the key after idling
                wake_ms = wm_ms + int(idle_retention_seconds * 1e3) + 1
            else:
                wake_ms = None
            keyed_state.save(state, (hist, keep, int(emitted)), wake_ms)
        if out is not None:
            yield out

    return keyed_state.apply(
        src, [key], fn, out_schema, "hist binary, pend binary, emitted long"
    )


def event_time_sorted_emit(
    df: DataFrame,
    time_col: str,
    watermark_delay: str,
    key: str | None = None,
    tiebreak: str | None = None,
) -> DataFrame:
    """Streaming event-time sort — Flink's RowTimeSortOperator
    (flink-table/.../runtime/aggregate/RowTimeSortProcessFunction.scala):
    buffer out-of-order rows, emit them in ascending event-time order
    once the watermark passes them.

    ``key=None`` gives the reference's total order (parallelism-1 sort:
    one group, a deliberate single-task bottleneck, exactly as Flink's
    streaming SQL ORDER BY ts requires); with a key, rows are ordered
    per key but parallel across keys.  Output schema = input schema.

    Per batch the work is one stable sort plus a watermark split — no
    per-row Python.
    """
    src = df.withWatermark(time_col, watermark_delay)
    if key is None:
        # total order: one group (the reference's parallelism-1 sort)
        src = src.withColumn("__g", F.lit(1))
        group = ["__g"]
    else:
        group = [key]
    cols = df.columns
    out_schema = ", ".join(f"{c} {src.schema[c].dataType.simpleString()}" for c in cols)
    empty = (keyed_state.frame(src.schema, cols),)
    sort_cols = [time_col, *([tiebreak] if tiebreak else [])]

    def fn(key_tuple, batches, state: GroupState):
        (buf,) = keyed_state.load(state, empty)
        pend = keyed_state.concat([buf, *(pdf[cols] for pdf in batches)], cols)
        ready, keep = keyed_state.split_at_watermark(
            pend, sort_cols, time_col, state.getCurrentWatermarkMs()
        )
        wake_ms = keyed_state.event_us(keep[time_col]).min() // 1000 + 1 if len(keep) else None
        keyed_state.save(state, (keep,), wake_ms)
        if len(ready):
            yield ready

    return keyed_state.apply(src, group, fn, out_schema, "buf binary")


def streaming_heavy_hitters(
    df: DataFrame,
    item_col: str,
    k_capacity: int = 64,
    key_buckets: int = 8,
) -> DataFrame:
    """Streaming Misra-Gries heavy hitters: every micro-batch folds its
    items into a bounded per-bucket counter summary (<= ``k_capacity``
    counters, the classic decrement rule) and emits the bucket's
    CURRENT candidate snapshot — (item, lower_count, bucket_seen).

    The per-item guarantee is the batch operator's, sharpened by
    bucketing (an item lives in exactly ONE hash bucket, so a global
    count > bucket_seen / k survives ITS bucket's summary): the true
    count lies in [lower_count, lower_count + bucket_seen/k], and every
    item above the certify threshold is present in the latest snapshot.
    Downstream certifies exactly like the batch path — filter on
    lower_count + slack, recount survivors.

    State per bucket = the counter summary + a seen-count: O(k) — the
    whole point vs a streaming groupBy count, whose state grows with
    the open-domain key space.  ``key_buckets`` plays maxParallelism
    (hash re-deal of items, same knob as temporal_join_stream).
    Output mode "update": each batch replaces the bucket's snapshot.
    """
    import numpy as np

    src = df.select(F.col(item_col).cast("string").alias("__item"))
    cap = int(k_capacity)

    def fn(key_tuple, batches: Iterator[pd.DataFrame], state: GroupState):
        items, counts, seen = keyed_state.load(state, ([], [], 0))
        counters = pd.Series(list(counts), index=list(items), dtype="float64")
        for pdf in batches:
            vc = pdf["__item"].value_counts()
            seen += int(vc.sum())
            counters = vc.astype("float64") if counters.empty else counters.add(
                vc, fill_value=0
            )
            if len(counters) > cap:
                kth = counters.nlargest(cap + 1).iloc[-1]
                counters = counters - kth
                counters = counters[counters > 0]
        keyed_state.save(state, (
            [str(i) for i in counters.index],
            [int(c) for c in counters.to_numpy()],
            int(seen),
        ))
        if len(counters):
            yield pd.DataFrame(
                {
                    "item": counters.index.astype(str),
                    "lower_count": counters.to_numpy().astype("int64"),
                    "bucket_seen": np.int64(seen),
                }
            )

    return keyed_state.apply(
        src, ["__item"], fn,
        "item string, lower_count long, bucket_seen long",
        "items array<string>, counts array<long>, n_seen long",
        key_buckets, mode="update", timeout="NoTimeout",
    )


def streaming_lsh_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_k: int = 3,
    key_buckets: int = 16,
) -> DataFrame:
    """ONLINE near-duplicate detection for an ingestion stream: each
    arriving document's MinHash LSH bands probe a stateful band store;
    a document sharing >= 1 band with ANY earlier-arrived document is
    flagged ``(doc id, dup_of)``.  A document's bands spread over
    several key groups, so the APPEND output may carry one row per
    (doc, key group); ``min(dup_of)`` per doc is the canonical earliest
    owner — aggregate downstream (the tests do exactly that).  The streaming counterpart of
    ``operators.dedup.incremental_dedup`` (frozen-corpus anti-join) —
    here the corpus freezes CONTINUOUSLY as documents arrive.

    Band signatures are the same pure-Column md5 MinHash family as the
    batch LSH (map-only on the stream; no aggregation before the
    stateful step, so no watermark is needed).  State is partitioned by
    ``hash(band) % key_buckets`` — each bucket holds its slice of the
    band -> first-owner map, so probe AND insert for one band touch
    exactly one key group.  Within a micro-batch, ownership ties break
    to the smallest document id (vectorized pandas groupby — no per-row
    Python).  State grows with the number of DISTINCT bands ingested
    (the inherent cost of exact online dedup — the band store IS the
    corpus memory); cap it upstream with a corpus budget or rotate the
    checkpoint per ingestion epoch.
    """
    from flink_1_8_sourcecode_spark.operators.dedup import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_P,
    )
    from flink_1_8_sourcecode_spark.operators.text import (
        bind_once,
        md5_base28,
        shingles,
    )

    r = num_hashes // bands
    # SAME affine family as the batch LSH (minhash_band_rows), computed
    # per row (no groupBy -> no watermark needed on the stream): md5
    # bases bound ONCE via bind_once, then one array_min per seed
    bases = bind_once(
        F.transform(shingles(F.col(text_col), shingle_k), md5_base28),
        lambda bs: F.array(
            *[
                F.array_min(
                    F.transform(
                        bs,
                        (lambda a, b: lambda x: (F.lit(a) * x + F.lit(b)) % MINHASH_P)(
                            MINHASH_A[i], MINHASH_B[i]
                        ),
                    )
                )
                for i in range(num_hashes)
            ]
        ),
    )
    band_arr = bind_once(
        bases,
        lambda s: F.array(
            *[
                F.concat_ws(
                    "#",
                    F.lit(str(j)),
                    *[F.element_at(s, j * r + i + 1) for i in range(r)],
                )
                for j in range(bands)
            ]
        ),
    )
    rows = df.select(
        F.col(id_col).cast("long").alias("__id"), F.explode(band_arr).alias("__band")
    )

    def fn(key_tuple, batches: Iterator[pd.DataFrame], state: GroupState):
        keys, owners = keyed_state.load(state, ([], []))
        store = dict(zip(keys, owners))
        parts = [pdf[["__id", "__band"]] for pdf in batches]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        # within-batch owner per band = smallest doc id (vectorized)
        batch_min = pdf.groupby("__band")["__id"].min()
        prior = pdf["__band"].map(store)
        batch_owner = pdf["__band"].map(batch_min)
        # the effective owner of each row's band: the stored owner if the
        # band was seen in an earlier batch, else this batch's minimum
        owner = prior.fillna(batch_owner)
        dup = pdf.loc[owner < pdf["__id"], ["__id"]].assign(__owner=owner[owner < pdf["__id"]])
        # persist: first owner wins forever
        for band, own in batch_min.items():
            if band not in store:
                store[band] = int(own)
        keyed_state.save(state, (list(store.keys()), [int(v) for v in store.values()]))
        if len(dup):
            out = (
                dup.groupby("__id", as_index=False)["__owner"]
                .min()
                .rename(columns={"__id": "doc_id", "__owner": "dup_of"})
            )
            out["dup_of"] = out["dup_of"].astype("int64")
            yield out

    return keyed_state.apply(
        rows, ["__band"], fn,
        "doc_id long, dup_of long",
        "keys array<string>, owners array<long>",
        key_buckets, timeout="NoTimeout",
    )


def streaming_rate_limit(
    df: DataFrame,
    key: str,
    time_col: str,
    id_col: str,
    k: int,
    window_seconds: int,
    watermark_delay: str,
) -> DataFrame:
    """ONLINE per-key rate limit — the streaming twin of
    ``operators/sampling.py:rate_limit`` (admit the first ``k`` events
    per key per tumbling ``window_seconds`` bucket, event-time order):
    out-of-order arrivals buffer in state and are admitted in event-time
    order once the watermark passes, so the admitted set equals the
    batch operator's on the same data — the property that makes
    backfills reproduce the online throttle.

    State per key = the pending row buffer plus one (bucket, admitted)
    counter row per OPEN bucket — buckets the
    watermark has closed are pruned, so state is bounded by
    disorder/window, never the stream.  Per batch: one stable sort, a
    watermark split, and a vectorized per-bucket cumcount.

    Emits the admitted rows with ``window_start`` (bucket epoch).
    """
    import numpy as np

    if k <= 0 or window_seconds <= 0:
        raise ValueError("k and window_seconds must be positive")
    src = df.withWatermark(time_col, watermark_delay)
    cols = df.columns
    out_schema = ", ".join(
        f"{c} {src.schema[c].dataType.simpleString()}" for c in cols
    ) + ", window_start long"
    empty = (keyed_state.frame(src.schema, cols), keyed_state.packed(1))

    def fn(key_tuple, batches, state: GroupState):
        buf, cnts = keyed_state.load(state, empty)
        pend = keyed_state.concat([buf, *(pdf[cols] for pdf in batches)], cols)
        wm_ms = state.getCurrentWatermarkMs()
        wm = wm_ms / 1000.0

        out = None
        counts = {int(b): int(c) for b, c in zip(cnts.keys, cnts.vals[:, 0])}
        ready, keep = keyed_state.split_at_watermark(
            pend, [time_col, id_col], time_col, wm_ms
        )
        if len(ready):
            tsec = keyed_state.event_us(ready[time_col]) / 1e6
            bkt = (tsec // window_seconds).astype("int64") * window_seconds
            prior = np.array([counts.get(int(b), 0) for b in bkt])
            within = pd.Series(1, index=range(len(bkt))).groupby(
                bkt, sort=False
            ).cumsum().to_numpy() - 1
            rank = prior + within
            admit = rank < k
            if admit.any():
                out = ready[admit].copy()
                out["window_start"] = bkt[admit]
            # roll the admitted totals into the bucket counters
            for b in np.unique(bkt):
                m = bkt == b
                counts[int(b)] = min(
                    k, counts.get(int(b), 0) + int(m.sum())
                )
        # prune buckets the watermark has closed (no row of that bucket
        # can still arrive: its latest time < bucket end <= wm)
        counts = dict(sorted(
            (b, c) for b, c in counts.items() if b + window_seconds > wm
        ))
        # idle-key cleanup (reference: cleanup timers on keyed state):
        # with nothing pending and no open bucket, the key holds no
        # information and is dropped; with open buckets but no pending
        # rows, fire exactly when the last open bucket closes so the
        # counters get pruned and the state removed
        if len(keep):
            wake_ms = keyed_state.event_us(keep[time_col]).min() // 1000 + 1
        elif counts:
            wake_ms = int(max(b + window_seconds for b in counts) * 1e3) + 1
        else:
            wake_ms = None
        cnts = keyed_state.Packed(
            np.array(list(counts), dtype=np.int64),
            np.array(list(counts.values()), dtype=np.float64).reshape(-1, 1),
        )
        keyed_state.save(state, (keep, cnts), wake_ms)
        if out is not None and len(out):
            yield out

    return keyed_state.apply(src, [key], fn, out_schema, "pend binary, cnts binary")


def streaming_kmv_sketch(
    df: DataFrame,
    group_col: str,
    value_col,
    k: int = 64,
) -> DataFrame:
    """Online KMV distinct-count sketch: each micro-batch folds its
    values' 28-bit md5 hashes into the per-group k-minimum set and
    emits the group's CURRENT estimate — the streaming face of
    ``operators/sketches.kmv_sketch`` (same hash, same estimator, so
    the final snapshot equals the batch sketch bit-for-bit, in ANY
    arrival order: k-min sets are mergeable summaries).

    Output per update: (group, n_seen, kmv_size, est_distinct) where
    ``n_seen`` counts rows folded so far (monotone — downstream takes
    the max-n_seen row per group for the final answer).  State per
    group = the sorted k-min list + a counter: O(k), the point vs a
    streaming COUNT(DISTINCT) whose state grows with the key space.
    The hash itself is computed BEFORE the stateful exchange as a
    map-only Column, so the shuffle carries (group, 12-byte hash) and
    the pandas side only merges sorted ints.
    """
    from flink_1_8_sourcecode_spark.operators.sketches import _check_k
    from flink_1_8_sourcecode_spark.operators.text import md5_base28

    _check_k(k)
    value = F.col(value_col) if isinstance(value_col, str) else value_col
    # NULL values don't count (COUNT(DISTINCT) convention, same filter
    # as the batch sketch — keeps stream == batch exactly)
    src = df.select(
        F.col(group_col).alias("__g"),
        md5_base28(value.cast("string")).alias("__hv"),
    ).filter(F.col("__hv").isNotNull())
    gtype = src.schema["__g"].dataType.simpleString()
    space = float(1 << 28)

    def fn(key_tuple, batches: Iterator[pd.DataFrame], state: GroupState):
        mins, seen = keyed_state.load(state, ([], 0))
        s, seen = set(mins), int(seen)
        for pdf in batches:
            seen += len(pdf)
            s.update(int(h) for h in pdf["__hv"].unique())
        mins = sorted(s)[:k]
        keyed_state.save(state, (mins, seen))
        est = float(len(mins)) if len(mins) < k else (k - 1) * space / mins[k - 1]
        yield pd.DataFrame(
            {
                "__g": [key_tuple[0]],
                "n_seen": [seen],
                "kmv_size": [len(mins)],
                "est_distinct": [round(est, 6)],
            }
        )

    out = keyed_state.apply(
        src, ["__g"], fn,
        f"__g {gtype}, n_seen long, kmv_size int, est_distinct double",
        "mins array<long>, n_seen long",
        mode="update", timeout="NoTimeout",
    )
    return out.withColumnRenamed("__g", group_col)


def streaming_uniform_sample(
    df: DataFrame,
    group_col: str,
    id_col: str,
    k: int = 16,
    salt: str = "",
) -> DataFrame:
    """ONLINE uniform k-sample per group — the ingestion-time face of
    ``operators/sampling.uniform_sample_bottomk``: every micro-batch
    folds its (md5(id), id) pairs into the per-group bottom-k set and
    emits the group's CURRENT sample.  Bottom-k-by-hash is a mergeable
    summary, so the final snapshot equals the batch sample EXACTLY in
    any arrival order — the stream==batch pin is the correctness
    check, and the oracle is the batch sample's SQL.

    State per group: the sorted k-list of (hash, id) pairs + a row
    counter — O(k), never the key space (a true reservoir sampler
    cannot be distributed this way; bottom-k can, which is why every
    engine's APPROX machinery uses it).  The hash is computed BEFORE
    the stateful exchange (map-only Column), so the shuffle carries
    (group, 32-byte hex, id).

    Ids travel as lossless STRINGS through the state (the batch face
    keeps any id type; ADVICE r14 — the old long-cast NULLed string
    ids silently) and the output ``sample_ids`` is cast back to the
    input id type.  ``n_seen`` counts DISTINCT ids within each state
    fold (a replayed micro-batch delivered twice in one fold no
    longer double-counts); across restarts the source replay itself
    is exactly-once under checkpointing, so the counter matches the
    batch ``count(*)`` on clean runs and is at-least-once otherwise.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    idtype = df.schema[id_col].dataType.simpleString()
    src = df.select(
        F.col(group_col).alias("__g"),
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))).alias("__hv"),
        F.col(id_col).cast("string").alias("__id"),
    ).filter(F.col("__hv").isNotNull())
    gtype = src.schema["__g"].dataType.simpleString()

    def fn(key_tuple, batches: Iterator[pd.DataFrame], state: GroupState):
        hs, ids, seen = keyed_state.load(state, ([], [], 0))
        pairs = dict(zip(hs, ids))
        fold_hashes: set = set()
        for pdf in batches:
            fold_hashes.update(pdf["__hv"])
            pairs.update(zip(pdf["__hv"], pdf["__id"]))
        seen = int(seen) + len(fold_hashes)
        best = sorted(pairs.items())[:k]
        hs = [h for h, _ in best]
        ids = [str(i) for _, i in best]
        keyed_state.save(state, (hs, ids, seen))
        yield pd.DataFrame(
            {
                "__g": [key_tuple[0]],
                "n_seen": [seen],
                "sample_ids": [ids],
            }
        )

    out = keyed_state.apply(
        src, ["__g"], fn,
        f"__g {gtype}, n_seen long, sample_ids array<string>",
        "hs array<string>, ids array<string>, n_seen long",
        mode="update", timeout="NoTimeout",
    )
    return out.withColumnRenamed("__g", group_col).withColumn(
        "sample_ids", F.col("sample_ids").cast(f"array<{idtype}>")
    )
