"""Kafka connector surface — FlinkKafkaConsumer/Producer parity.

Reference: flink-connectors/flink-connector-kafka-base/src/main/java/org/
apache/flink/streaming/connectors/kafka/FlinkKafkaConsumerBase.java:86
(subscription modes, start-position config, watermark extraction) and
FlinkKafkaProducer (Semantic.AT_LEAST_ONCE / EXACTLY_ONCE).

Split of responsibilities, stated plainly:
- Broker I/O maps 1:1 onto Spark's built-in kafka format and needs the
  spark-sql-kafka package on the classpath; ``kafka_source``/
  ``kafka_sink`` are configuration mappings (tested only for option
  wiring — no broker exists in this environment).
- Everything AROUND the broker — the wire record schema, key/value
  serde, event-time extraction — is real code exercised by tests via
  ``fake_kafka_records``, which shapes any DataFrame into the exact
  record layout the kafka format produces, so serde written against it
  runs unchanged against a real topic.

Scale notes: one Spark input partition per Kafka topic-partition;
``minPartitions`` can oversplit hot partitions.  The JSON serde is
``from_json``/``to_json`` — JVM-side, whole-stage codegen, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# the exact columns Spark's kafka source emits (headers optional)
KAFKA_RECORD_SCHEMA = (
    "key binary, value binary, topic string, partition int, offset long, "
    "timestamp timestamp, timestampType int"
)


def kafka_source(
    spark: SparkSession,
    bootstrap: str,
    topics: str | list[str] | None = None,
    pattern: str | None = None,
    assign: str | None = None,
    starting_offsets: str = "latest",
    ending_offsets: str | None = None,
    fail_on_data_loss: bool = True,
    min_partitions: int | None = None,
    **options,
) -> DataFrame:
    """FlinkKafkaConsumerBase parity: exactly one subscription mode —
    ``topics`` (subscribe), ``pattern`` (subscribePattern, the
    reference's topic-regex constructor) or ``assign`` (fixed
    partitions JSON).  ``starting_offsets`` maps setStartFromEarliest /
    Latest / specific offsets JSON."""
    modes = [m for m in (topics, pattern, assign) if m is not None]
    if len(modes) != 1:
        raise ValueError("exactly one of topics / pattern / assign is required")
    r = spark.readStream.format("kafka").option("kafka.bootstrap.servers", bootstrap)
    if topics is not None:
        r = r.option("subscribe", ",".join(topics) if isinstance(topics, list) else topics)
    elif pattern is not None:
        r = r.option("subscribePattern", pattern)
    else:
        r = r.option("assign", assign)
    r = r.option("startingOffsets", starting_offsets)
    if ending_offsets is not None:
        r = r.option("endingOffsets", ending_offsets)
    r = r.option("failOnDataLoss", str(fail_on_data_loss).lower())
    if min_partitions is not None:
        r = r.option("minPartitions", str(min_partitions))
    for k, v in options.items():
        r = r.option(k, v)
    return r.load()


def kafka_sink(
    df: DataFrame,
    bootstrap: str,
    topic: str,
    checkpoint: str,
    semantic: str = "at_least_once",
    **options,
):
    """FlinkKafkaProducer parity.  Spark's kafka sink is at-least-once
    (retries may duplicate); Semantic.EXACTLY_ONCE has no transactional
    equivalent here, so requesting it raises rather than silently
    downgrading — dedup downstream on (topic, key) instead."""
    if semantic not in ("at_least_once", "exactly_once"):
        raise ValueError(f"unknown semantic {semantic!r}")
    if semantic == "exactly_once":
        raise NotImplementedError(
            "Spark's kafka sink is at-least-once; EXACTLY_ONCE needs "
            "transactional produce — dedup downstream on (topic, key)"
        )
    w = (
        df.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
    )
    for k, v in options.items():
        w = w.option(k, v)
    return w


def decode_json_value(df: DataFrame, value_schema: str, ts_from: str = "timestamp") -> DataFrame:
    """JSONKeyValueDeserializationSchema parity: parse the binary value
    as JSON into typed columns, keeping the kafka metadata
    (topic/partition/offset) and using the record timestamp as event
    time — all JVM-side expressions."""
    parsed = F.from_json(F.col("value").cast("string"), value_schema)
    return df.select(
        F.col("key").cast("string").alias("key"),
        parsed.alias("v"),
        "topic", "partition", "offset",
        F.col(ts_from).alias("event_time"),
    ).select("key", "v.*", "topic", "partition", "offset", "event_time")


def fake_kafka_records(
    df: DataFrame,
    topic: str,
    key: Column | str,
    value_cols: list[str] | None,
    ts_col: str,
    n_partitions: int = 4,
) -> DataFrame:
    """Shape any (batch or streaming) DataFrame into the exact record
    layout the kafka source emits — the loopback test double for serde
    and downstream logic.  Partition = hash(key) % n; offset is a
    monotonically increasing surrogate (event-time micros on streaming
    frames, where monotonically_increasing_id is unsupported).

    ``value_cols=None`` means the frame ALREADY carries a binary
    ``value`` column (a non-JSON serde like encode_avro_value built
    it); otherwise the listed columns JSON-encode into the value."""
    k = F.col(key) if isinstance(key, str) else key
    part = F.pmod(F.hash(k), F.lit(n_partitions)).cast("int")
    offset = (
        F.unix_micros(F.col(ts_col)) if df.isStreaming else F.monotonically_increasing_id()
    )
    value = (
        F.col("value").cast("binary")
        if value_cols is None
        else F.to_json(F.struct(*[F.col(c) for c in value_cols])).cast("binary")
    )
    return df.select(
        k.cast("string").cast("binary").alias("key"),
        value.alias("value"),
        F.lit(topic).alias("topic"),
        part.alias("partition"),
        offset.alias("offset"),
        F.col(ts_col).alias("timestamp"),
        F.lit(0).alias("timestampType"),
    )


def encode_avro_value(
    df: DataFrame, value_cols: list[str], avro_schema: dict
) -> DataFrame:
    """Producer-side Avro DATUM serde (AvroRowSerializationSchema
    parity): each row's ``value_cols`` encode to raw Avro binary — the
    per-message layout a Kafka topic carries (no container framing, no
    sync markers; the schema travels out of band, registry-style).

    Arrow-batched mapInPandas (the encoder is pure Python; Avro datum
    bytes cannot be built from Spark SQL expressions) — the slow-path
    cost is bounded by message count, and the output is the exact
    ``value binary`` column ``fake_kafka_records`` / a real producer
    expects.
    """
    from collections.abc import Iterator

    import pandas as pd

    from flink_1_8_sourcecode_spark.sources.avro import _encode_value

    fields = [f["name"] for f in avro_schema["fields"]]
    assert set(fields) == set(value_cols), (fields, value_cols)
    passthrough = [c for c in df.columns if c not in value_cols]
    ddl = ", ".join(
        [f"{c} {df.schema[c].dataType.simpleString()}" for c in passthrough]
        + ["value binary"]
    )

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vals = [
                _encode_value(avro_schema, dict(zip(fields, t)))
                for t in zip(*[pdf[f] for f in fields])
            ]
            out = pdf[passthrough].copy()
            out["value"] = vals
            yield out

    return df.mapInPandas(enc, ddl)


def decode_avro_value(
    df: DataFrame, avro_schema: dict, ts_from: str = "timestamp"
) -> DataFrame:
    """Consumer-side Avro DATUM serde — AvroRowDeserializationSchema
    parity (flink-formats/flink-avro/.../AvroRowDeserializationSchema
    .java:79): decode each kafka record's raw Avro ``value`` bytes into
    typed columns using the known writer schema; the record's broker
    ``timestamp`` rides along as ``event_time`` for watermarking
    (same contract as :func:`decode_json_value`).

    Works identically on batch and STREAMING DataFrames (mapInPandas is
    streaming-capable), so the serde tested on the loopback runs
    unchanged against a real topic.
    """
    from collections.abc import Iterator

    import pandas as pd

    from flink_1_8_sourcecode_spark.sources.avro import (
        _Reader,
        _decode_value,
        spark_schema_ddl,
    )

    cols = [f["name"] for f in avro_schema["fields"]]
    ddl = spark_schema_ddl(avro_schema) + ", event_time timestamp"
    has_ts = ts_from in df.columns

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = [
                _decode_value(_Reader(bytes(v)), avro_schema) for v in pdf["value"]
            ]
            out = pd.DataFrame.from_records(recs, columns=cols)
            out["event_time"] = (
                pdf[ts_from].values if has_ts else pd.NaT
            )
            yield out

    return df.mapInPandas(dec, ddl)
