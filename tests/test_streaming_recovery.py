"""Checkpoint recovery (exactly-once) + late-data side channel + hop
window streaming tests."""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from flink_1_8_sourcecode_spark.catalog import table
from flink_1_8_sourcecode_spark.streaming import side_outputs, sinks, sources, windows
from tests.conftest import SF_SMALL, assert_frames_match


def test_file_sink_exactly_once_across_restart(spark, tmp_path):
    """StreamingFileSink parity (StreamingFileSink.java:95): stop the
    query mid-stream, restart from the checkpoint, and the sink holds
    every input row exactly once."""
    src_dir = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    ev = table(spark, SF_SMALL, "events").orderBy("ts").limit(600)
    # first half of the input
    ev.limit(300).coalesce(1).write.mode("overwrite").parquet(src_dir)

    def start():
        stream = (
            spark.readStream.schema(sources.EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
            .select("event_id", "user_id", "value")
        )
        return sinks.file_sink(stream, out_dir, ckpt).start()

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # second half arrives while the query is DOWN; restart resumes from
    # the checkpoint without reprocessing the first half
    ev.subtract(ev.limit(300)).coalesce(1).write.mode("append").parquet(src_dir)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = spark.read.parquet(out_dir)
    assert got.count() == 600
    assert got.select("event_id").distinct().count() == 600  # exactly once


def test_late_data_side_channel(spark, tmp_path):
    """allowedLateness/sideOutputLateData emulation: rows arriving behind
    the tracked watermark land in the late channel, everything else in
    the main channel, with no loss."""
    src_dir = str(tmp_path / "late_src")
    base = dt.datetime(2024, 1, 1)
    on_time = [(i, base + dt.timedelta(minutes=i), 1.0) for i in range(30)]
    late = [(100 + i, base + dt.timedelta(minutes=i), 1.0) for i in range(3)]  # very old
    schema = "event_id long, ts timestamp, value double"
    spark.createDataFrame(on_time, schema).coalesce(1).write.mode("overwrite").parquet(
        src_dir + "/f=1"
    )
    spark.createDataFrame(late, schema).coalesce(1).write.mode("overwrite").parquet(
        src_dir + "/f=2"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src_dir)
    )
    got_main, got_late = [], []
    q = side_outputs.late_data_side_channel(
        stream,
        "ts",
        "10 minutes",
        main_fn=lambda df, _b: got_main.extend(r.event_id for r in df.collect()),
        late_fn=lambda df, _b: got_late.extend(r.event_id for r in df.collect()),
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(got_main + got_late) == sorted([e for e, _, _ in on_time + late])
    # the 3 ancient rows arriving after the watermark advanced are late
    assert set(got_late) == {100, 101, 102}


def test_stream_hop_equals_batch(spark, tmp_path):
    chunks = str(tmp_path / "hop_chunks")
    sources.write_event_chunks(spark, SF_SMALL, chunks, n_chunks=4)
    stream = sources.read_event_stream(spark, chunks)
    aggs = {"cnt": F.count(F.lit(1))}
    out = windows.hop(stream, "ts", "1 hour", "30 minutes", [], aggs, watermark="30 minutes")
    q = out.writeStream.format("memory").queryName("t_hop").outputMode("update").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = (
        spark.table("t_hop")
        .toPandas()
        .drop_duplicates(subset=["w_start", "w_end"], keep="last")
    )
    expected = windows.hop(
        table(spark, SF_SMALL, "events"), "ts", "1 hour", "30 minutes", [], aggs
    ).toPandas()
    assert_frames_match(got, expected, name="stream_hop")


def test_streaming_cep_state_recovers_across_restart(spark, tmp_path):
    """Stateful CEP (applyInPandasWithState buffer + cursors) across a
    checkpointed restart: the stream stops mid-input with OPEN partial
    matches in state, more data arrives while it is down, and the
    restarted query completes those matches from recovered state —
    final output equals the batch matcher on the full input."""
    from flink_1_8_sourcecode_spark.cep import Pattern, match_pattern
    from flink_1_8_sourcecode_spark.cep.streaming import match_pattern_stream

    src_dir = str(tmp_path / "cep_src")
    ckpt = str(tmp_path / "cep_ckpt")
    base = dt.datetime(2024, 1, 1)
    # per user: signup at t, purchase 5 min later — the purchase of the
    # LAST users arrives only in the second file, so their partials must
    # survive the restart inside recovered state
    rows1, rows2 = [], []
    for u in range(40):
        s_ts = base + dt.timedelta(minutes=u)
        p_ts = s_ts + dt.timedelta(minutes=5)
        rows1.append((2 * u, s_ts, u, "signup", 0.0, "{}"))
        (rows1 if u < 20 else rows2).append((2 * u + 1, p_ts, u, "purchase", 0.0, "{}"))
    # far-future sentinel closes every window at the very end
    rows2.append((10**9, base + dt.timedelta(days=30), -1, "noop", 0.0, "{}"))
    schema = sources.EVENTS_SCHEMA
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("overwrite").parquet(
        src_dir + "/f=1"
    )

    pat = (
        Pattern.begin("s").where(lambda e: e["event_type"] == "signup")
        .followed_by("p").where(lambda e: e["event_type"] == "purchase")
        .within("30 minutes")
    )

    out_dir = str(tmp_path / "cep_out")

    def start():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(src_dir)
        )
        out = match_pattern_stream(
            stream, pat, key="user_id", time_col="ts",
            select_cols=["event_id"], watermark_delay="45 minutes",
            tiebreak="event_id",
        )
        return (
            out.writeStream.format("parquet").option("path", out_dir)
            .outputMode("append").option("checkpointLocation", ckpt).start()
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(
        src_dir + "/f=2"
    )
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = spark.read.parquet(out_dir).toPandas()
    got = got[got.user_id >= 0]

    batch_input = spark.createDataFrame(rows1 + rows2, schema).filter(
        F.col("user_id") >= 0
    )
    want = match_pattern(
        batch_input, pat, key="user_id", time_col="ts",
        select_cols=["event_id"], tiebreak="event_id",
    ).toPandas()

    def norm(pdf):
        return sorted(
            (int(u), tuple(g.sort_values("seq").event_id))
            for (u, _m), g in pdf.groupby(["user_id", "match_id"])
        )

    assert len(got) > 0
    assert norm(got) == norm(want)


def test_temporal_join_stream_state_survives_restart(spark, tmp_path):
    """TemporalRowtimeJoin state recovery: a version buffered BEFORE a
    stop must still serve a probe that arrives AFTER the restart — the
    pruned version chain lives in checkpointed state."""
    from flink_1_8_sourcecode_spark.operators.joins import temporal_join_stream

    src = str(tmp_path / "tj_src")
    out = str(tmp_path / "tj_out")
    ckpt = str(tmp_path / "tj_ckpt")
    base = dt.datetime(2024, 1, 1)

    def t(s):
        return base + dt.timedelta(seconds=s)

    schema = "k long, side string, ts timestamp, payload double"

    def write(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/{name}")

    write("00", [(1, "v", t(0), 7.0), (999, "w", t(1), 0.0)])
    write("01", [(999, "w", t(100), 0.0)])

    def start():
        s = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        probe = s.filter(F.col("side").isin("p", "w")).select(
            "k", F.col("ts").alias("pts")
        )
        ver = s.filter(F.col("side").isin("v", "w")).select(
            "k", F.col("ts").alias("vts"), F.col("payload")
        )
        j = temporal_join_stream(
            probe, ver, on="k", probe_time="pts", version_time="vts",
            right_cols=["payload"], how="inner",
            watermark_delay="0 seconds", key_buckets=1,
        )
        return (
            j.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # probe + sentinel arrive while the query is DOWN
    write("02", [(1, "p", t(5000), 0.0)])
    write("03", [(999, "w", t(10**6), 0.0)])
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = spark.read.parquet(out).filter(F.col("k") == 1).toPandas()
    assert len(got) == 1 and got.iloc[0].payload == 7.0


# Restart coverage for the keyed-state families: stop mid-input with open
# state, append the rest while the query is down, restart from the
# checkpoint, and compare with one uninterrupted run over the same files.
RESTART_SCHEMA = "event_id long, ts timestamp, user_id long, side string, value double"


def _restart_chunks():
    base = dt.datetime(2024, 1, 1)

    def rows(minutes, first_id):
        return [
            (first_id + 10 * i + u, base + dt.timedelta(minutes=m + u), u,
             "lr"[(i + u) % 2], float(10 * u + i))
            for i, m in enumerate(minutes)
            for u in (1, 2, 3)
        ]

    far = base + dt.timedelta(days=30)
    return [
        # user 4 has a left side only: the outer join pads it at the end
        rows([0, 10, 20, 30, 40], 0) + [(90, base, 4, "l", 1.0)],
        # the 25-minute rows land behind rows already in state
        rows([25, 50, 60, 70, 130], 100),
        [(10**9, far, -1, "l", 0.0), (10**9 + 1, far, -1, "r", 0.0)],
    ]


def _outer_join(stream):
    from flink_1_8_sourcecode_spark.operators.joins import unbounded_stream_join

    def side(tag, t, v):
        return stream.filter(F.col("side") == tag).select(
            F.col("user_id").alias("k"), F.col("ts").alias(t), F.col("value").alias(v)
        )

    return unbounded_stream_join(
        side("l", "lts", "lv"), side("r", "rts", "rv"), "k", how="full",
        left_time="lts", right_time="rts", watermark_delay="30 minutes",
        idle_state_ttl_seconds=86400.0, key_buckets=2,
    )


def _restart_case(case):
    from flink_1_8_sourcecode_spark.streaming.evictors import evicted_tumble_agg
    from flink_1_8_sourcecode_spark.streaming.stateful import (
        event_time_bounded_agg,
        streaming_rate_limit,
    )
    from flink_1_8_sourcecode_spark.streaming.triggers import triggered_tumble_agg

    win = dict(key="user_id", time_col="ts", value_col="value", window_seconds=3600.0,
               watermark_delay="30 minutes", key_buckets=2)
    return {
        "triggers": lambda s: triggered_tumble_agg(s, trigger=("count", 3), **win),
        "evictors": lambda s: evicted_tumble_agg(s, evictor=("count", 2), **win),
        "bounded_agg": lambda s: event_time_bounded_agg(
            s, key="user_id", time_col="ts", value_col="value",
            watermark_delay="30 minutes", preceding_rows=2, tiebreak="event_id",
        ),
        "rate_limit": lambda s: streaming_rate_limit(
            s, key="user_id", time_col="ts", id_col="event_id", k=2,
            window_seconds=3600, watermark_delay="30 minutes",
        ),
        "outer_join": _outer_join,
    }[case]


@pytest.mark.parametrize(
    "case", ["triggers", "evictors", "bounded_agg", "rate_limit", "outer_join"]
)
def test_keyed_state_survives_restart(spark, tmp_path, case):
    build = _restart_case(case)
    src = str(tmp_path / "src")
    chunks = _restart_chunks()
    t0 = time.time()

    def write(i):
        d = f"{src}/__chunk={i}"
        spark.createDataFrame(chunks[i], RESTART_SCHEMA).coalesce(1).write.parquet(d)
        # the file source replays in mtime order: space them explicitly
        for dp, _dn, fns in os.walk(d):
            for fn in fns:
                os.utime(os.path.join(dp, fn), (t0 + 10 * i, t0 + 10 * i))

    def run(tag):
        stream = (
            spark.readStream.schema(RESTART_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        q = (
            build(stream).writeStream.format("parquet")
            .option("path", str(tmp_path / f"out_{tag}"))
            .option("checkpointLocation", str(tmp_path / f"ckpt_{tag}"))
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        out = spark.read.parquet(str(tmp_path / f"out_{tag}")).toPandas()
        key = "k" if "k" in out.columns else "user_id"
        return out[out[key] >= 0].reset_index(drop=True)

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        write(0)
        run("restarted")
        write(1)
        write(2)
        got = run("restarted")
        want = run("uninterrupted")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert len(want) > 0
    assert_frames_match(got, want, name=f"{case}_restart")
