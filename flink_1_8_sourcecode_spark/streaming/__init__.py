"""Structured Streaming layer — DataStream/Table-on-stream parity.

Mapping (SURVEY.md §1.3, §2.7, §2.13):

- Flink DataStream sources  -> ``sources``: file-replay (monitored dir),
  rate, socket; ``kafka``: kafka source/sink option mappings and record
  serde
- event time + watermarks   -> ``withWatermark`` (bounded out-of-orderness;
  punctuated watermarks are documented as unsupported)
- windowed aggregations     -> ``windows``: tumble/hop/session with
  watermark, same F.window expressions as the batch queries
- retraction semantics      -> output modes: Flink append/retract/upsert
  ~= Spark append/update/complete + foreachBatch MERGE (``sinks``)
- keyed state backend       -> ``keyed_state``: per-key state encoding,
  event-time timers and key-group sharding for every
  applyInPandasWithState operator
- ProcessFunction + state   -> ``stateful``: count windows, event-time
  OVER/sort, keyed process with timeouts; ``triggers``/``evictors``
  window operators; all on ``keyed_state``
"""
