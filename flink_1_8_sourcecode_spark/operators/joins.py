"""Join operators beyond Spark's built-in flavors.

Reference parity:
- as-of (temporal-table) join — Flink's ``TemporalRowtimeJoin``
  (flink-table/.../runtime/join/TemporalRowtimeJoin.scala:63) buffers the
  build side per key and emits, for each probe row, the latest build row
  with time <= probe time.
- interval join — ``KeyedStream.intervalJoin(...).between(lower, upper)``
  (flink-streaming-java/.../datastream/KeyedStream.java:414,448; runtime
  flink-table/.../runtime/join/TimeBoundedStreamJoin.scala).

Scale design:
- ``asof_join`` uses the union + sort-within-key + last-value-carry-forward
  strategy: ONE shuffle on the key, no row explosion, no per-probe
  backtracking — the plan that survives 100 TB.  (A key-equi join with a
  ``right.ts <= left.ts`` predicate would multiply rows before aggregating;
  merge_asof-in-pandas would force a Python boundary.)
- ``interval_join`` is a plain equi-join on the key with the time-range
  predicate evaluated inside the hash join — Spark shuffles both sides on
  the key once; AQE picks broadcast when one side is small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_time: str,
    right_time: str,
    right_cols: list[str] | None = None,
    allow_exact_match: bool = True,
    direction: str = "backward",
    tolerance: float | None = None,
    time_buckets: float | None = None,
    match_time_col: str | None = None,
) -> DataFrame:
    """For each left row, attach the latest right row with
    ``right_time <= left_time`` (or ``<`` when not allow_exact_match),
    matching on the key column(s) ``on``. Left rows without a prior right
    row keep NULLs (left-outer as-of semantics, like pandas merge_asof
    and the reference's temporal join).

    ``direction`` extends the merge_asof surface: ``"backward"`` (the
    reference's temporal-join semantics, default), ``"forward"`` (the
    earliest right row at-or-after the probe time — the same carry over
    a reversed time order), ``"nearest"`` (whichever of the two is
    closer; ties prefer backward, like pandas).  ``tolerance`` (same
    units as a numeric time column, seconds for timestamps) voids a
    match whose time distance exceeds it — the payload reverts to NULL,
    never to an older version.

    The whole right payload is carried as ONE struct with a single
    ``last(ignorenulls=True)``, exactly as the reference's
    TemporalRowtimeJoin emits the latest build row atomically: a
    legitimately-NULL field of the latest right version stays NULL
    (never backfilled from an older version), and all output columns
    come from the same right row — no version tearing.

    Ties on right_time are broken deterministically by the greatest
    right_cols struct (field-by-field comparison).

    Skew note: each key's full (probe + version) history flows through
    ONE window partition — the same per-key serialization as the
    reference's keyed TemporalRowtimeJoin state.  A pathologically hot
    key serializes its own history; ``time_buckets=<seconds>`` opts
    into the time-bucket pre-split for that case: rows land in
    ``floor(t / time_buckets)`` buckets, the carry window partitions on
    (key, bucket) — so a hot key's history fans out across buckets —
    and each bucket's carry is seeded from the latest right row of the
    PRIOR buckets via a tiny per-(key, bucket) aggregate + a window
    over the bucket-level table.  Equal timestamps always share a
    bucket (floor bucketing), so the exact-match tie rules stay purely
    intra-bucket and results are identical to the unbucketed path.
    ``time_buckets="auto"`` self-tunes instead: a sample pass detects
    hot keys (the detect_hot_keys recipe, operators/partitioning.py)
    and derives a PER-KEY width from each hot key's sampled time span
    and row count; cold keys keep a single bucket, paying nothing
    beyond the bucket-stats aggregate.
    Not on by default: it adds a bucket-stats shuffle for a case the
    keyed model already bounds.
    """
    from pyspark.sql import types as T

    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"direction must be backward/forward/nearest, got {direction!r}")

    keys = [on] if isinstance(on, str) else list(on)
    right_cols = right_cols or [c for c in right.columns if c not in keys + [right_time]]

    def secs(c, dtype):
        # epoch seconds for time arithmetic; TIMESTAMP_NTZ has no direct
        # double cast — route through ltz (session tz is UTC, so exact)
        if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
            return c.cast("timestamp_ltz").cast("double")
        return c.cast("double")

    lt_type = left.schema[left_time].dataType
    rt_type = right.schema[right_time].dataType
    # the matched right row's own time rides inside the payload struct so
    # tolerance/nearest can measure the match distance after the carry
    r_struct_type = T.StructType(
        [T.StructField(c, right.schema[c].dataType) for c in right_cols]
        + [T.StructField("__rt", right.schema[right_time].dataType)]
    )

    # Tag and align schemas: left rows carry a NULL right-payload struct,
    # right rows carry their payload; a single sort per key then carries
    # the latest right struct forward onto each left row.
    lpay = [F.col(c) for c in left.columns]
    l_tagged = left.select(
        *lpay,
        F.col(left_time).alias("__t"),
        F.lit(1).alias("__is_left"),
        F.lit(None).cast(r_struct_type).alias("__r"),
    )
    r_tagged = right.select(
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left.columns if c not in keys],
        *[F.col(k) for k in keys],
        F.col(right_time).alias("__t"),
        F.lit(0).alias("__is_left"),
        F.struct(
            *[F.col(c).alias(c) for c in right_cols],
            F.col(right_time).alias("__rt"),
        ).alias("__r"),
    ).select(*[c for c in l_tagged.columns])

    # Exact-time ties: a right row (tag 0) must sort BEFORE the left row
    # (tag 1) in scan order to be visible at equal timestamps (<=
    # semantics) — ascending tag order; strict (<) puts left first —
    # descending.  The same tie logic holds for the forward scan (time
    # descending): only the time direction flips.  Equal-time right rows
    # order by the payload struct so "last" is deterministic.
    order_left_flag = (
        F.col("__is_left").asc() if allow_exact_match else F.col("__is_left").desc()
    )
    unioned = l_tagged.unionByName(r_tagged)

    def carry(time_asc: bool) -> "F.Column":
        t_order = F.col("__t").asc() if time_asc else F.col("__t").desc()
        w = (
            Window.partitionBy(*keys)
            .orderBy(t_order, order_left_flag, F.col("__r").asc_nulls_first())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        return F.last("__r", ignorenulls=True).over(w)

    passthrough = [c for c in l_tagged.columns if c != "__r"]
    need_b = direction in ("backward", "nearest")
    need_f = direction in ("forward", "nearest")

    if time_buckets is None:
        carry_b = carry(True) if need_b else None
        carry_f = carry(False) if need_f else None
        carry_src = unioned
    else:
        # hot-key pre-split: partition the carry on (key, time bucket) so
        # one key's history fans out; seed each bucket from prior buckets
        u_t_type = unioned.schema["__t"].dataType
        tnum = secs(F.col("__t"), u_t_type)
        if time_buckets == "auto":
            # self-tuning: sample-detect hot keys (the detect_hot_keys
            # recipe, operators/partitioning.py) with per-key time span,
            # derive a PER-KEY width splitting each hot key into
            # ~count/mean buckets (capped); cold keys stay in one bucket
            # (constant 0), so only detected skew pays the fan-out
            hot = _auto_bucket_widths(unioned, keys, tnum)
            hw = hot.select(
                *[F.col(k).alias(f"__hk{i}") for i, k in enumerate(keys)],
                "__w",
            )
            jc = None
            for i, k in enumerate(keys):
                c = F.col(k).eqNullSafe(F.col(f"__hk{i}"))
                jc = c if jc is None else (jc & c)
            unioned = (
                unioned.join(F.broadcast(hw), jc, "left")
                .drop(*[f"__hk{i}" for i in range(len(keys))])
                .withColumn(
                    "__bkt",
                    F.when(
                        F.col("__w").isNotNull(), F.floor(tnum / F.col("__w"))
                    ).otherwise(F.lit(0)),
                )
                .drop("__w")
            )
        else:
            w_b = float(time_buckets)
            if w_b <= 0:
                raise ValueError(
                    f"time_buckets must be a positive width, got {time_buckets}"
                )
            unioned = unioned.withColumn("__bkt", F.floor(tnum / F.lit(w_b)))

        # per-(key, bucket) right-side extremes: max(struct) picks the
        # LAST right row of the bucket under the carry's own tie rules
        # (greatest time, then greatest payload); negating time gives the
        # FIRST right row (smallest time, greatest payload) for forward
        r_only = F.col("__is_left") == 0
        aggs = []
        if need_b:
            aggs.append(
                F.max(F.when(r_only, F.struct(tnum.alias("t"), F.col("__r").alias("r"))))
                .alias("__mxb")
            )
        if need_f:
            aggs.append(
                F.max(F.when(r_only, F.struct((-tnum).alias("t"), F.col("__r").alias("r"))))
                .alias("__mxf")
            )
        bstats = unioned.groupBy(*keys, "__bkt").agg(*aggs)
        # bucket-level seed carry: buckets are listed for BOTH sides'
        # rows, so last(ignorenulls) over prior buckets = the latest
        # right row before this bucket (forward: bucket order reversed)
        seed_cols = []
        if need_b:
            wsb = (
                Window.partitionBy(*keys)
                .orderBy(F.col("__bkt").asc())
                .rowsBetween(Window.unboundedPreceding, -1)
            )
            seed_cols.append(
                F.last("__mxb", ignorenulls=True).over(wsb)["r"].alias("__seed_b")
            )
        if need_f:
            wsf = (
                Window.partitionBy(*keys)
                .orderBy(F.col("__bkt").desc())
                .rowsBetween(Window.unboundedPreceding, -1)
            )
            seed_cols.append(
                F.last("__mxf", ignorenulls=True).over(wsf)["r"].alias("__seed_f")
            )
        seeds = bstats.select(
            *[F.col(k).alias(f"__sk{i}") for i, k in enumerate(keys)],
            F.col("__bkt").alias("__sbkt"),
            *seed_cols,
        )
        cond = F.col("__bkt") == F.col("__sbkt")
        for i, k in enumerate(keys):
            # null-safe: null key values form their own carry partition
            # in the unbucketed path and must keep doing so here
            cond = cond & F.col(k).eqNullSafe(F.col(f"__sk{i}"))
        carry_src = unioned.join(seeds, cond, "left").drop(
            "__sbkt", *[f"__sk{i}" for i in range(len(keys))]
        )

        def bucket_carry(time_asc: bool, seed: str) -> "F.Column":
            t_order = F.col("__t").asc() if time_asc else F.col("__t").desc()
            w = (
                Window.partitionBy(*keys, "__bkt")
                .orderBy(t_order, order_left_flag, F.col("__r").asc_nulls_first())
                .rowsBetween(Window.unboundedPreceding, 0)
            )
            return F.coalesce(F.last("__r", ignorenulls=True).over(w), F.col(seed))

        carry_b = bucket_carry(True, "__seed_b") if need_b else None
        carry_f = bucket_carry(False, "__seed_f") if need_f else None

    if direction == "backward":
        carried = carry_src.select(*passthrough, carry_b.alias("__r"))
    elif direction == "forward":
        carried = carry_src.select(*passthrough, carry_f.alias("__r"))
    else:  # nearest: both carries share one exchange (same partition keys)
        carried = carry_src.select(
            *passthrough, carry_b.alias("__rb"), carry_f.alias("__rf")
        )
        lt = secs(F.col("__t"), lt_type)
        db = lt - secs(F.col("__rb.__rt"), rt_type)
        df_ = secs(F.col("__rf.__rt"), rt_type) - lt
        carried = carried.select(
            *passthrough,
            F.when(F.col("__rf").isNull(), F.col("__rb"))
            .when(F.col("__rb").isNull(), F.col("__rf"))
            .when(df_ < db, F.col("__rf"))
            .otherwise(F.col("__rb"))  # ties prefer backward (pandas)
            .alias("__r"),
        )

    if tolerance is not None:
        lt = secs(F.col("__t"), lt_type)
        rt = secs(F.col("__r.__rt"), rt_type)
        dist = F.abs(lt - rt)
        carried = carried.withColumn(
            "__r", F.when(dist <= F.lit(float(tolerance)), F.col("__r"))
        )

    out = carried.filter(F.col("__is_left") == 1).drop("__is_left", "__t")
    for c in right_cols:
        out = out.withColumn(c, F.col("__r")[c])
    if match_time_col is not None:
        # the matched version's own time — NULL iff no version matched,
        # which is how callers distinguish a real NULL payload field
        # from "no match" (e.g. the SQL temporal join's INNER semantics)
        out = out.withColumn(match_time_col, F.col("__r.__rt"))
    return out.drop("__r")


def _auto_bucket_widths(unioned: DataFrame, keys: list[str], tnum) -> DataFrame:
    """Per-key bucket widths for ``asof_join(time_buckets="auto")``:
    ``detect_hot_keys`` (operators/partitioning.py — shared recipe, one
    source of truth for sampling/threshold/scaling) with the per-key
    time span, width = span / __factor.  Returns a SMALL (hot keys
    only) DataFrame (keys..., __w) meant to be broadcast; keys with
    zero sampled span are excluded (no split can help a single-instant
    key)."""
    from flink_1_8_sourcecode_spark.operators.partitioning import detect_hot_keys

    hot = detect_hot_keys(unioned, keys, time_expr=tnum)
    return (
        hot.select(
            *keys,
            ((F.col("__tmax") - F.col("__tmin")) / F.col("__factor")).alias("__w"),
        )
        .filter(F.col("__w") > 0)
    )


class TemporalTableFunction:
    """Surface parity with ``Table.createTemporalTableFunction(timeAttr,
    key)`` (flink-table/.../api/table.scala:188): a versioned-table handle
    whose as-of semantics are applied by ``temporal_join``."""

    def __init__(self, history: DataFrame, time_attr: str, key: str):
        self.history = history
        self.time_attr = time_attr
        self.key = key


def create_temporal_table_function(
    history: DataFrame, time_attr: str, key: str
) -> TemporalTableFunction:
    return TemporalTableFunction(history, time_attr, key)


def temporal_join(
    probe: DataFrame,
    versioned: TemporalTableFunction,
    probe_time: str,
    right_cols: list[str] | None = None,
    how: str = "left",
    watermark_delay: str = "0 seconds",
    static_history_limit: int = 1_000_000,
) -> DataFrame:
    """LATERAL TABLE (versioned(probe_time)) join: each probe row gets the
    version of the build side valid at its timestamp — implemented by the
    as-of join (TemporalRowtimeJoin.scala:63 semantics).

    ``how="inner"`` drops probe rows with NO valid version — the
    semantics of the reference's SQL temporal-table-function join (a
    LATERAL TABLE of an empty correlate emits nothing); ``"left"`` is
    the DataFrame-API default (NULL payload, merge_asof-style).

    STREAMING probes dispatch by the history side's nature:
    - history also streaming -> ``temporal_join_stream`` (the
      TemporalRowtimeJoin stateful path; results stabilize behind the
      watermark, ``watermark_delay`` applies);
    - history static/bounded -> a STATELESS map: the sorted history is
      captured once (bounded-side contract, like a broadcast dim — the
      ``static_history_limit`` guard refuses anything bigger and points
      at the streaming path) and every probe micro-batch runs a
      vectorized per-batch ``merge_asof`` against it inside
      ``mapInPandas``.  No shuffle, no state — the plan a fixed rates
      table deserves at any scale.
    """
    if how not in ("left", "inner"):
        raise ValueError(f"how must be left/inner, got {how!r}")
    if probe.isStreaming:
        if right_cols:
            # the key/time ride along implicitly; callers (e.g. the SQL
            # LATERAL router) may list the key to expose it in a view
            right_cols = [
                c for c in right_cols
                if c not in (versioned.key, versioned.time_attr)
            ]
        if versioned.history.isStreaming:
            return temporal_join_stream(
                probe,
                versioned.history,
                on=versioned.key,
                probe_time=probe_time,
                version_time=versioned.time_attr,
                right_cols=right_cols,
                how=how,
                watermark_delay=watermark_delay,
            )
        return _stream_probe_static_asof(
            probe, versioned, probe_time, right_cols, how, static_history_limit
        )
    if versioned.history.isStreaming:
        raise NotImplementedError(
            "temporal_join: a BATCH probe against a STREAMING version "
            "history has no meaningful answer point (the history never "
            "finishes); stream the probe too (temporal_join_stream "
            "semantics) or snapshot the history to a batch table first"
        )
    out = asof_join(
        probe,
        versioned.history,
        on=versioned.key,
        left_time=probe_time,
        right_time=versioned.time_attr,
        right_cols=right_cols,
        match_time_col="__match_t" if how == "inner" else None,
    )
    if how == "inner":
        out = out.filter(F.col("__match_t").isNotNull()).drop("__match_t")
    return out


def _stream_probe_static_asof(
    probe: DataFrame,
    versioned: TemporalTableFunction,
    probe_time: str,
    right_cols: list[str] | None,
    how: str,
    limit: int,
) -> DataFrame:
    """Streaming probe x STATIC version history: per-micro-batch
    vectorized merge_asof against the captured sorted history (see
    temporal_join).  The history is a bounded-side contract — a rates /
    dimension table, not a fact stream."""
    from collections.abc import Iterator

    import pandas as pd

    key, vtime = versioned.key, versioned.time_attr
    hist = versioned.history
    right_cols = right_cols or [
        c for c in hist.columns if c not in (key, vtime)
    ]
    overlap = set(right_cols) & set(probe.columns)
    if overlap:
        raise ValueError(
            f"version payload columns {sorted(overlap)} collide with probe "
            "columns; rename one side"
        )
    # one job collects AND guards: limit+1 rows caps the transfer even
    # when the guard is about to fire on a fact-sized table
    hist_pdf = hist.select(key, vtime, *right_cols).limit(limit + 1).toPandas()
    if len(hist_pdf) > limit:
        raise ValueError(
            f"static history exceeds static_history_limit={limit}: "
            "a history that big is a fact stream — use a streaming "
            "history side (temporal_join_stream) instead"
        )
    hist_pdf = hist_pdf.sort_values(
        [vtime] + right_cols, kind="mergesort"
    ).reset_index(drop=True)
    if pd.api.types.is_datetime64_any_dtype(hist_pdf[vtime]):
        hist_pdf[vtime] = hist_pdf[vtime].astype("datetime64[us]")
    hist_pdf = hist_pdf.rename(columns={vtime: "__vt"})

    out_cols = list(probe.columns) + right_cols
    schema = ", ".join(
        [f"{c} {probe.schema[c].dataType.simpleString()}" for c in probe.columns]
        + [f"{c} {hist.schema[c].dataType.simpleString()}" for c in right_cols]
    )
    inner = how == "inner"
    ts_payload = {
        c for c in right_cols
        if hist.schema[c].dataType.simpleString().startswith("timestamp")
    }

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            t = pdf[probe_time]
            if pd.api.types.is_datetime64_any_dtype(t):
                t = t.astype("datetime64[us]")
            work = pdf.assign(__pt=t).sort_values("__pt", kind="mergesort")
            j = pd.merge_asof(
                work,
                hist_pdf,
                left_on="__pt",
                right_on="__vt",
                by=key,
                direction="backward",
                allow_exact_matches=True,
            )
            miss = j["__vt"].isna()
            if inner:
                j = j[~miss]
            elif miss.any():
                for c in right_cols:
                    j[c] = j[c].astype(object)
                    j.loc[miss, c] = None
            for c in ts_payload:
                j[c] = pd.to_datetime(j[c])
            if len(j):
                yield j[out_cols]

    return probe.mapInPandas(fn, schema)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_time: str,
    right_time: str,
    lower,
    upper,
    how: str = "inner",
) -> DataFrame:
    """Flink interval join: match left/right rows on key where
    ``left_time + lower <= right_time <= left_time + upper``.

    ``lower``/``upper`` are SQL interval strings (e.g. ``'10 minutes'``)
    or Column expressions; negative bounds via ``'-10 minutes'``.
    """

    def _bound(b):
        if isinstance(b, str):
            s = b.strip()
            neg = s.startswith("-")
            iv = F.expr(f"INTERVAL {s.lstrip('+-')}")
            return (-1) * iv if neg else iv
        return b

    keys = [on] if isinstance(on, str) else list(on)
    cond = None
    for k in keys:
        c = left[k] == right[k]
        cond = c if cond is None else (cond & c)
    lt, rt = left[left_time], right[right_time]
    cond = cond & (rt >= lt + _bound(lower)) & (rt <= lt + _bound(upper))
    out = left.join(right, cond, how)
    if how in ("inner", "left", "left_outer", "leftouter"):
        # Keep a single unambiguous key column (the left side's).
        for k in keys:
            out = out.drop(right[k])
    return out


def unbounded_stream_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    how: str = "inner",
    left_time: str | None = None,
    right_time: str | None = None,
    watermark_delay: str = "0 seconds",
    idle_state_ttl_seconds: float = 3600.0,
    key_buckets: int = 64,
) -> DataFrame:
    """Unbounded (non-windowed) stream-stream join — the reference's
    retraction-mode SQL joins (flink-table/.../runtime/join/
    NonWindowInnerJoin.scala, NonWindowFullJoin.scala,
    NonWindowLeftRightJoin.scala): both sides' state grows without bound
    because ANY past row may match a future one.

    INNER delegates to Spark's native stream-stream join (identical
    unbounded-state cost to NonWindowInnerJoin).

    LEFT/RIGHT/FULL OUTER run as a symmetric hash join in the stateful
    layer: per key, both sides buffer in state; each arriving row emits
    its cross-pairs with the already-buffered opposite side (append
    mode, no duplicates).  Flink emits null-padded rows EAGERLY and
    retracts them when a match arrives; an append-only sink cannot
    retract, so null-padded rows are emitted when the key's event-time
    timer fires — the watermark has passed every buffered element, the
    key has gone idle, and state clears (exactly the final state Flink's
    join converges to under idle-state retention, which the reference
    also requires for unbounded joins to stay feasible; a match arriving
    after the TTL is dropped there too).  ``left_time``/``right_time``
    event-time columns are required for the outer flavors to drive that
    watermark; ``idle_state_ttl_seconds`` is the event-time idle span
    after which an unmatched key flushes (Flink's
    withIdleStateRetentionTime analogue — size it above the expected
    key re-arrival gap).

    ``key_buckets`` shards join keys into Flink-style key groups
    (KeyGroupRangeAssignment.java, see streaming/triggers.py): the
    stateful shuffle is on ``hash(keys) % key_buckets`` and each
    invocation handles all of a bucket's keys with keyed pandas merges
    — amortizing the per-invocation JVM<->Python protocol cost that
    dominates at high key cardinality.  Results are identical; size it
    like Flink's maxParallelism (>= target executor cores).
    """
    keys = [on] if isinstance(on, str) else list(on)
    if how == "inner":
        return left.join(right, keys, "inner")
    how_n = {
        "left": "left", "left_outer": "left", "leftouter": "left",
        "right": "right", "right_outer": "right", "rightouter": "right",
        "full": "full", "full_outer": "full", "fullouter": "full",
    }.get(how)
    if how_n is None:
        raise ValueError(f"unknown join type {how!r}")
    if left_time is None or right_time is None:
        raise ValueError(
            "outer unbounded stream joins need event-time columns on both "
            "sides (left_time/right_time) to bound null-padded emission"
        )
    return _outer_unbounded_join(
        left, right, keys, how_n, left_time, right_time, watermark_delay,
        idle_state_ttl_seconds, key_buckets,
    )


def _outer_unbounded_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    how: str,
    left_time: str,
    right_time: str,
    watermark_delay: str,
    idle_state_ttl_seconds: float,
    key_buckets: int,
) -> DataFrame:
    """Symmetric hash join with timer-driven null-padding (see
    unbounded_stream_join).  Non-key columns of the two sides must be
    disjoint (alias before joining, as in SQL).

    Implementation notes (hot-path discipline):
    - payload columns travel as NATIVE Spark columns (the other side's
      columns null-cast before the union) — no JSON round-trip;
    - the stateful shuffle is on a KEY GROUP (``hash(keys) %
      key_buckets``): one applyInPandasWithState invocation per bucket
      per micro-batch holds every key of the bucket, so the
      JVM<->Python protocol cost amortizes across keys (Flink's
      KeyGroupRangeAssignment design);
    - buffered state is Arrow-IPC-serialized pandas frames carrying the
      key columns, not pickled Python lists;
    - per-batch matching is vectorized keyed pandas merges: the new
      pairs of a batch are exactly new_left >< all_right + old_left ><
      new_right ON the join keys, no per-row Python loop;
    - each key's idle deadline is ``max(watermark at last arrival, max
      observed event time) + ttl`` — the first micro-batch's watermark
      is epoch 0, and a deadline off it alone would fire as soon as the
      watermark first advances, flushing null-padded rows for keys
      whose match is still in flight (the round-3 flake).  Expired keys
      flush on ANY bucket invocation (data or timer) once the watermark
      passes their deadline; the bucket timer is armed at the earliest
      pending deadline.
    """
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    from flink_1_8_sourcecode_spark.streaming import keyed_state

    lcols = [c for c in left.columns if c not in keys]
    rcols = [c for c in right.columns if c not in keys]
    overlap = set(lcols) & set(rcols)
    if overlap:
        raise ValueError(f"non-key columns must be disjoint, both sides have {overlap}")

    def _ddl(df: DataFrame, cols: list[str]) -> list[tuple[str, str]]:
        return [(c, df.schema[c].dataType.simpleString()) for c in cols]

    key_ddl = _ddl(left, keys)
    l_ddl, r_ddl = _ddl(left, lcols), _ddl(right, rcols)
    out_cols = [c for c, _t in key_ddl + l_ddl + r_ddl]
    out_schema = ", ".join(f"{c} {t}" for c, t in key_ddl + l_ddl + r_ddl)
    ts_cols = {c for c, t in l_ddl + r_ddl if t.startswith("timestamp")}
    lbuf_cols = keys + lcols
    rbuf_cols = keys + rcols
    meta_cols = keys + ["__deadline"]

    def _tag(df: DataFrame, time_col: str, side: int) -> DataFrame:
        # Both sides project to the SAME wide schema (own payload native,
        # other side's columns null-cast) so the union keeps every value
        # typed end-to-end.  Watermark goes on the post-projection __ts
        # column — the tag does not survive an alias.
        own = lcols if side == 0 else rcols
        other = r_ddl if side == 0 else l_ddl
        return df.select(
            *[F.col(k) for k in keys],
            F.col(time_col).cast("timestamp").alias("__ts"),
            F.lit(side).alias("__side"),
            *[F.col(c) for c in own],
            *[F.lit(None).cast(t).alias(c) for c, t in other],
        ).withWatermark("__ts", watermark_delay)

    u = _tag(left, left_time, 0).unionByName(_tag(right, right_time, 1))
    empty = (
        keyed_state.frame(u.schema, lbuf_cols),
        keyed_state.frame(u.schema, rbuf_cols),
        keyed_state.frame(u.schema, meta_cols, __deadline="int64"),
    )
    _concat = keyed_state.concat
    ttl_ms = int(idle_state_ttl_seconds * 1000)

    def _finish(pdf: pd.DataFrame) -> pd.DataFrame:
        for c in ts_cols:
            pdf[c] = pd.to_datetime(pdf[c])  # None -> NaT, dtype datetime64
        return pdf.reindex(columns=out_cols)

    def _anti(df: pd.DataFrame, key_df: pd.DataFrame) -> pd.DataFrame:
        """Rows of df whose key tuple is NOT in key_df."""
        if not len(df) or not len(key_df):
            return df  # also avoids object-dtype merges on empty frames
        m = df.merge(key_df.assign(__hit=1), on=keys, how="left")
        return m[m["__hit"].isna()].drop(columns="__hit")

    def _semi(df: pd.DataFrame, key_df: pd.DataFrame) -> pd.DataFrame:
        """Rows of df whose key tuple IS in key_df."""
        if not len(df) or not len(key_df):
            return df.iloc[0:0]
        return df.merge(key_df, on=keys)

    def fn(key_tuple, batches: Iterator[pd.DataFrame], state: GroupState):
        old_l, old_r, meta = keyed_state.load(state, empty)
        wm = state.getCurrentWatermarkMs()

        new_l_parts: list[pd.DataFrame] = []
        new_r_parts: list[pd.DataFrame] = []
        ts_parts: list[pd.DataFrame] = []
        for pdf in batches:
            if not len(pdf):
                continue
            ts_ms = keyed_state.event_us(pdf["__ts"]) // 1000
            ts_parts.append(pdf[keys].assign(__t=ts_ms))
            new_l_parts.append(pdf.loc[pdf["__side"] == 0, lbuf_cols])
            new_r_parts.append(pdf.loc[pdf["__side"] == 1, rbuf_cols])
        new_l = _concat(new_l_parts, lbuf_cols)
        new_r = _concat(new_r_parts, rbuf_cols)
        all_l = _concat([old_l, new_l], lbuf_cols)
        all_r = _concat([old_r, new_r], rbuf_cols)

        if ts_parts:
            # refresh the deadline of every key touched this batch
            touched = (
                _concat(ts_parts, keys + ["__t"])
                .groupby(keys, as_index=False)["__t"].max()
            )
            touched["__deadline"] = (
                touched["__t"].clip(lower=wm).astype("int64") + ttl_ms + 1
            )
            touched = touched[meta_cols]
            meta = _concat([_anti(meta, touched[keys]), touched], meta_cols)

        # Incremental keyed cross product: everything involving a new
        # row, nothing already emitted.
        pairs: list[pd.DataFrame] = []
        if len(new_l) and len(all_r):
            pairs.append(new_l.merge(all_r, on=keys))
        if len(old_l) and len(new_r):
            pairs.append(old_l.merge(new_r, on=keys))
        out = _concat(pairs, out_cols)

        # keys idle past their TTL: flush null-padded rows and clear —
        # Flink's idle-state-retention final state
        if len(meta):
            exp_mask = meta["__deadline"].astype("int64") <= wm
            if exp_mask.any():
                expired = meta.loc[exp_mask, keys]
                meta = meta[~exp_mask]
                l_exp, r_exp = _semi(all_l, expired), _semi(all_r, expired)
                all_l, all_r = _anti(all_l, expired), _anti(all_r, expired)
                if how in ("left", "full") and len(l_exp):
                    pad = _anti(l_exp, r_exp[keys].drop_duplicates())
                    if len(pad):
                        for c in rcols:
                            pad[c] = None
                        out = _concat([out, pad], out_cols)
                if how in ("right", "full") and len(r_exp):
                    pad = _anti(r_exp, l_exp[keys].drop_duplicates())
                    if len(pad):
                        for c in lcols:
                            pad[c] = None
                        out = _concat([out, pad], out_cols)

        # every buffered key has a deadline, so no meta means no state
        wake_ms = int(meta["__deadline"].astype("int64").min()) if len(meta) else None
        keyed_state.save(state, (all_l, all_r, meta), wake_ms)

        if len(out):
            yield _finish(out)

    return keyed_state.apply(
        u, keys, fn, out_schema, "lbuf binary, rbuf binary, meta binary", key_buckets
    )


def temporal_join_stream(
    probe: DataFrame,
    versioned: DataFrame,
    on: str | list[str],
    probe_time: str,
    version_time: str,
    right_cols: list[str] | None = None,
    how: str = "inner",
    watermark_delay: str = "0 seconds",
    key_buckets: int = 64,
    version_ttl_seconds: float | None = None,
) -> DataFrame:
    """STREAMING event-time temporal join — the reference's
    ``TemporalRowtimeJoin`` (flink-table/.../runtime/join/
    TemporalRowtimeJoin.scala:63): both sides are unbounded streams;
    per key, probe rows and version rows buffer in state, and when the
    watermark passes a probe row's event time the probe is emitted
    joined with the LATEST version at-or-before its timestamp — at that
    point no earlier version can still arrive, so the answer is final
    (the reference registers exactly this watermark timer,
    ``registerSmallestTimer``/``emitResultAndCleanUpState``).

    ``how="inner"`` (default) drops probes with no valid version — the
    SQL LATERAL TABLE semantics; ``"left"`` keeps them with NULLs.
    Version ties on time break by the greatest payload (same rule as
    the batch ``asof_join``).

    State & cleanup (TemporalRowtimeJoin.scala cleanupState parity):
    emitted probes leave state; versions older than the latest one
    at-or-before the watermark are dropped (every future probe has
    ``ts > watermark``, so only that latest version can still win).
    The stateful shuffle is on a key group (``hash(keys) %
    key_buckets``) with keyed pandas merges per bucket — the same
    amortization as ``unbounded_stream_join``.  Scale: per-key state is
    one pending-probe window plus one pruned version chain, the same
    bound as the reference's keyed MapState.

    ``version_ttl_seconds`` bounds DEAD-KEY state: without it the
    latest version of every key ever seen is retained forever (the
    reference behaves the same until idle-state retention is
    configured).  With it, a retained below-watermark version older
    than ``watermark - ttl`` is dropped — a probe arriving later finds
    no version (NULL / dropped per ``how``), exactly the trade Flink's
    withIdleStateRetentionTime makes.  Size it above the longest
    probe-silence per key you must serve.
    """
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    from flink_1_8_sourcecode_spark.streaming import keyed_state

    if how not in ("inner", "left"):
        raise ValueError(f"how must be inner/left, got {how!r}")
    keys = [on] if isinstance(on, str) else list(on)
    right_cols = right_cols or [
        c for c in versioned.columns if c not in keys + [version_time]
    ]
    lcols = [c for c in probe.columns if c not in keys]
    overlap = set(lcols) & set(right_cols)
    if overlap:
        raise ValueError(f"non-key columns must be disjoint, both sides have {overlap}")

    def _ddl(df: DataFrame, cols: list[str]) -> list[tuple[str, str]]:
        return [(c, df.schema[c].dataType.simpleString()) for c in cols]

    key_ddl = _ddl(probe, keys)
    l_ddl = _ddl(probe, lcols)
    r_ddl = _ddl(versioned, right_cols)
    out_cols = [c for c, _t in key_ddl + l_ddl + r_ddl]
    out_schema = ", ".join(f"{c} {t}" for c, t in key_ddl + l_ddl + r_ddl)
    ts_cols = {c for c, t in l_ddl + r_ddl if t.startswith("timestamp")}
    pbuf_cols = keys + lcols + ["__t"]
    vbuf_cols = keys + right_cols + ["__t"]

    def _tag(df: DataFrame, time_col: str, side: int) -> DataFrame:
        own = lcols if side == 0 else right_cols
        other = r_ddl if side == 0 else l_ddl
        return df.select(
            *[F.col(k) for k in keys],
            F.col(time_col).cast("timestamp").alias("__ts"),
            F.lit(side).alias("__side"),
            *[F.col(c) for c in own],
            *[F.lit(None).cast(t).alias(c) for c, t in other],
        ).withWatermark("__ts", watermark_delay)

    u = _tag(probe, probe_time, 0).unionByName(_tag(versioned, version_time, 1))
    empty = (
        keyed_state.frame(u.schema, pbuf_cols, __t="datetime64[ns]"),
        keyed_state.frame(u.schema, vbuf_cols, __t="datetime64[ns]"),
    )
    _concat = keyed_state.concat
    ttl_ms = (
        None if version_ttl_seconds is None else int(version_ttl_seconds * 1000)
    )

    def _finish(pdf: pd.DataFrame) -> pd.DataFrame:
        for c in ts_cols:
            pdf[c] = pd.to_datetime(pdf[c])
        return pdf.reindex(columns=out_cols)

    def fn(key_tuple, batches: Iterator[pd.DataFrame], state: GroupState):
        pend, vers = keyed_state.load(state, empty)
        wm = state.getCurrentWatermarkMs()

        new_p: list[pd.DataFrame] = []
        new_v: list[pd.DataFrame] = []
        for pdf in batches:
            if not len(pdf):
                continue
            # __t: event time at the watermark's millisecond grain
            pdf = pdf.assign(__t=pdf["__ts"].dt.floor("ms"))
            new_p.append(pdf.loc[pdf["__side"] == 0, pbuf_cols])
            new_v.append(pdf.loc[pdf["__side"] == 1, vbuf_cols])
        pend = _concat([pend] + new_p, pbuf_cols)
        vers = _concat([vers] + new_v, vbuf_cols)

        # probes whose event time the watermark has passed are FINAL:
        # any version at-or-before them has already arrived
        ready, pend = keyed_state.split_at_watermark(pend, ["__t"], "__t", wm)
        out = None
        if len(ready):
            if len(vers):
                # sort by (time, payload): merge_asof takes the LAST row
                # <= the probe time, giving the greatest-payload tie rule
                vs = (
                    vers.sort_values(["__t"] + right_cols, kind="mergesort")
                    .loc[:, keys + right_cols + ["__t"]]
                    .rename(columns={"__t": "__vt"})
                )
                out = pd.merge_asof(
                    ready,
                    vs,
                    left_on="__t",
                    right_on="__vt",
                    by=keys,
                    direction="backward",
                    allow_exact_matches=True,
                )
            else:
                out = ready.copy()
                out["__vt"] = None
                for c in right_cols:
                    out[c] = None
            miss = out["__vt"].isna()
            if how == "inner":
                out = out[~miss]
            elif miss.any():
                # keep integer payload columns nullable (NaN-float drift)
                for c in right_cols:
                    out[c] = out[c].astype(object)
                    out.loc[miss, c] = None

        # version-chain pruning: keep everything past the watermark plus
        # the single latest version at-or-before it (per key); with a
        # TTL, a retained version older than wm - ttl is dead-key state
        # and clears (idle-state-retention semantics)
        if len(vers):
            vv = vers.sort_values(["__t"] + right_cols, kind="mergesort")
            vt_ms = keyed_state.event_us(vv["__t"]) // 1000
            below = vv[vt_ms <= wm]
            if len(below):
                below = below.groupby(keys, as_index=False).tail(1)
                if ttl_ms is not None:
                    below = below[keyed_state.event_us(below["__t"]) // 1000 > wm - ttl_ms]
            vers = _concat([below, vv[vt_ms > wm]], vbuf_cols)

        if len(pend):
            # wake exactly when the earliest pending probe stabilizes
            wake_ms = keyed_state.event_us(pend["__t"]).min() // 1000
        elif ttl_ms is not None and len(vers):
            # no probes pending: wake when the oldest retained version's
            # TTL expires so dead-key state clears even if the bucket
            # never sees data again
            wake_ms = keyed_state.event_us(vers["__t"]).min() // 1000 + ttl_ms
        else:
            wake_ms = None
        keyed_state.save(state, (pend, vers), wake_ms)

        if out is not None and len(out):
            yield _finish(out)

    return keyed_state.apply(
        u, keys, fn, out_schema, "pbuf binary, vbuf binary", key_buckets
    )


def cross_with_tiny(left: DataFrame, right: DataFrame) -> DataFrame:
    """DataSet.crossWithTiny(other) (DataSet.java:1068): cartesian
    product with the RIGHT side declared broadcast-small — Spark's
    broadcast nested-loop join with the hint pinned on that side."""
    return left.crossJoin(F.broadcast(right))


def cross_with_huge(left: DataFrame, right: DataFrame) -> DataFrame:
    """DataSet.crossWithHuge(other) (DataSet.java:1090): cartesian
    product with the RIGHT side huge — broadcast the LEFT side
    instead, exactly the inverted hint of crossWithTiny."""
    return F.broadcast(left).crossJoin(right)


def join_with_tiny(
    left: DataFrame, right: DataFrame, on, how: str = "inner"
) -> DataFrame:
    """DataSet.joinWithTiny(other) (DataSet.java:797): declare the
    RIGHT side broadcast-small — Flink's BROADCAST_HASH_SECOND hint; in
    Spark the same declaration is the broadcast() hint on that side
    (AQE would often pick it from stats anyway; the hint pins it when
    stats lie, e.g. post-filter selectivity)."""
    return left.join(F.broadcast(right), on, how)


def join_with_huge(
    left: DataFrame, right: DataFrame, on, how: str = "inner"
) -> DataFrame:
    """DataSet.joinWithHuge(other) (DataSet.java:820): declare the
    RIGHT side too big to broadcast — BROADCAST_HASH_FIRST in Flink; in
    Spark, broadcast the LEFT side instead (and a shuffle-hash/merge
    hint would be the full-repartition fallback)."""
    return F.broadcast(left).join(right, on, how)


def apply_changelog(
    base: DataFrame,
    changelog: DataFrame,
    keys: list[str],
    version_col: str,
    op_col: str = "op",
    insert_ops: tuple = ("I", "U"),
    delete_op: str = "D",
) -> DataFrame:
    """Materialize a RETRACT/UPSERT changelog onto a base snapshot —
    the batch form of the reference's retract-stream -> table
    materialization (upsert sinks, flink-table retraction rules): for
    every key, the highest-``version_col`` changelog row wins; a
    surviving delete removes the key, a surviving insert/update
    replaces (or adds) the payload; untouched base rows pass through.

    Deterministic: ties on version break by operation — delete beats
    insert at the same version (retraction semantics: a retraction for
    a version supersedes the accumulation it retracts).

    Scale: one key-hash exchange over the CHANGELOG (usually a sliver
    of the base) for the latest-wins window; the base joins the tiny
    winner set with a broadcastable left-anti + union — the base table
    itself is never windowed or repartitioned.
    """
    payload = [c for c in base.columns]
    w = Window.partitionBy(*keys).orderBy(
        F.col(version_col).desc(),
        # delete outranks insert/update at equal version
        F.when(F.col(op_col) == delete_op, 0).otherwise(1).asc(),
    )
    latest = (
        changelog.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    upserts = latest.filter(F.col(op_col).isin(*insert_ops)).select(*payload)
    touched = latest.select(*keys)
    untouched = base.join(touched, keys, "left_anti")
    return untouched.unionByName(upserts)


def snapshot_as_of(
    history: DataFrame,
    keys: list[str],
    time_col: str,
    as_of,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Point-in-time SNAPSHOT of a versioned table: the latest version
    at-or-before ``as_of`` per key — the standalone form of the
    temporal table function's lookup semantics
    (Table.createTemporalTableFunction, table.scala; the probe-less
    case of temporal_join).  Keys whose first version is later than
    ``as_of`` do not exist in the snapshot.

    ``tiebreak`` columns disambiguate versions carrying the SAME
    timestamp (descending, after the time ordering) — without one, a
    key with equal-time versions would pick an engine-dependent winner.

    One key-hash exchange (latest-wins window over the time-filtered
    history; the filter pushes to the scan, so only versions <= as_of
    are read at all)."""
    order = [F.col(time_col).desc()] + [
        F.col(c).desc() for c in (tiebreak or [])
    ]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        history.filter(F.col(time_col) <= F.lit(as_of))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def build_scd2(
    history: DataFrame,
    keys: list[str],
    time_col: str,
    tiebreak: list[str] | None = None,
    valid_from_col: str = "valid_from",
    valid_to_col: str = "valid_to",
) -> DataFrame:
    """Slowly-Changing-Dimension type-2 intervals from a version
    history: every version row gains ``valid_from`` (its own time) and
    ``valid_to`` (the NEXT version's time per key; NULL for the current
    version) — the interval form that makes ``snapshot_as_of`` a plain
    BETWEEN filter and temporal joins range predicates, i.e. the
    materialized twin of the temporal table function's version chain
    (Table.createTemporalTableFunction, table.scala; the reference
    keeps the chain in state, this writes it as a table).

    ``tiebreak`` orders equal-time versions (ascending, after time) so
    the chain is deterministic.  Half-open semantics: a version is
    valid for ``valid_from <= t < valid_to``.

    Scale: exactly one key-hash exchange + a per-key LEAD window — the
    standard SCD2 build; at 100 TB the window partitions by the entity
    key (bounded per-key history), never a global sort.
    """
    order = [F.col(time_col).asc()] + [F.col(c).asc() for c in (tiebreak or [])]
    w = Window.partitionBy(*keys).orderBy(*order)
    return history.withColumn(
        valid_from_col, F.col(time_col)
    ).withColumn(valid_to_col, F.lead(time_col).over(w))
