"""One workload run in a fresh Python process (started by ``run.py``).

``--setup-only`` measures set-up alone: process start until the Spark
session is up and the query registry is imported.  Otherwise the process
runs one workload after its own set-up and writes a JSON result file.

The engine is only called through its public functions (the query
registry, ``streaming.sources``, ``streaming.triggers``,
``cep.streaming``); every span and counter is recorded here, around those
calls, or read from Spark's status tracker, status store,
``StreamingQueryListener`` and ``/proc``.
"""

from __future__ import annotations

import argparse
import datetime as dt
import importlib.util
import json
import os
import sys
import threading
import time
import traceback
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

import numpy as np

from tracing import (
    ProcMonitor,
    Tracer,
    drain_listener_bus,
    geomean,
    group_stage_stats,
    median,
    percentile,
    union_length,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# All timestamps are time.time(): the epoch clock Spark's status store and
# progress reports use, so spans, stage intervals and batches line up.

BATCH_SQL = (
    "tpch_q1", "tpch_q3", "tpch_q4", "tpch_q5", "tpch_q6", "tpch_q10",
    "tpch_q14", "tpch_q18", "join_asof", "over_unbounded", "window_tumble",
)
BATCH_PYOPS = (
    "dedup_minhash_lsh", "sim_topk_bruteforce", "sim_topk_ivf_gemm",
    "text_quality_classifier", "pipeline_curate_corpus",
    "graph_connected_components", "cep_funnel_signup_purchase",
)

# stream_events: the last PACED_RATE x seconds chunks of PACED_CHUNK_ROWS
# events are fed on a schedule, the events before them are the drain
# backlog (see README.md)
DRAIN_CHUNKS = 19  # + the sentinel = two triggers of DRAIN_FILES_PER_TRIGGER
DRAIN_FILES_PER_TRIGGER = 10
PACED_RATE = 5.0  # chunks per second
PACED_CHUNK_ROWS = 400
MIN_PACED_CHUNKS = 50  # two queries x 50 chunks = 100 latency samples
MIN_PASSES = 2  # timed passes per untraced batch run
STATE_PARTITIONS = 4  # as in window_delta_trigger / cep_funnel_timeout_stream
STREAM_TIMEOUT_S = 90.0


def load_tool(name: str):
    """Import a script from the repository's ``tools/`` directory."""
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(ROOT, "tools", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def setup(t0: float, work: str):
    """Process start (``t0``, stamped by the parent) until the session is
    up and the registry is imported."""
    a = time.time()
    from flink_1_8_sourcecode_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
        },
    )
    b = time.time()
    from flink_1_8_sourcecode_spark.queries import load_all

    registry = load_all()
    c = time.time()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, registry, {
        "setup_s": c - t0, "session.start_s": b - a, "registry.load_s": c - b,
    }


def shutdown(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    worker daemon) to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=30)


class OracleChecker:
    """Runs DuckDB oracles on a background thread and compares with the
    repository's comparator (``tools/verify_subset.vhash``)."""

    def __init__(self, tables: dict[str, str | list[str]]):
        self.tables = tables
        self.vhash = load_tool("verify_subset").vhash
        self.pool = ThreadPoolExecutor(max_workers=1)
        self.futures = []

    def _check(self, name: str, sql: str, got) -> tuple[str, bool, str]:
        import duckdb

        con = duckdb.connect()
        try:
            for t, src in self.tables.items():
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet({src!r})"
                )
            want = con.execute(sql).fetchdf()
        finally:
            con.close()
        ok = len(got) == len(want) and self.vhash(got) == self.vhash(want)
        return name, ok, f"{len(got)}/{len(want)} rows"

    def submit(self, name: str, sql: str | None, got) -> None:
        if sql is not None:
            self.futures.append((name, self.pool.submit(self._check, name, sql, got)))

    def results(self) -> list[tuple[str, bool, str]]:
        out = []
        for name, f in self.futures:
            try:
                out.append(f.result())
            except Exception as e:  # an oracle that errors is a failed check
                out.append((name, False, f"{type(e).__name__}: {e}"))
        self.pool.shutdown()
        self.futures = []
        return out


# ------------------------------------------------------------------ batch


class BatchRun:
    def __init__(self, spark, registry, names, sf_dir, rng, tracer, monitor):
        self.spark = spark
        self.sc = spark.sparkContext
        self.queries = [registry[n] for n in names]
        self.sf_dir = sf_dir
        self.rng = rng
        self.tracer = tracer
        self.monitor = monitor
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def order(self):
        return [self.queries[i] for i in self.rng.permutation(len(self.queries))]

    def warmup(self, checker: OracleChecker) -> None:
        """Untimed first pass: collect each result and oracle-check it."""
        for q in self.order():
            self.attempted += 1
            self.sc.setJobGroup(f"warm:{q.name}", q.name)
            try:
                got = q.spark(self.spark, self.sf_dir).toPandas()
            except Exception as e:
                self.failed += 1
                self.errors.append(f"{q.name}: {type(e).__name__}: {e}")
                continue
            checker.submit(q.name, q.oracle, got)
        for name, ok, detail in checker.results():
            if not ok:
                self.failed += 1
                self.errors.append(f"{name}: oracle mismatch {detail}")

    def one_pass(self, k: int, traced: bool, parent: str) -> dict:
        """One timed pass in seed order; per query build -> [plan] ->
        execute, each under its own job group."""
        walls: dict[str, float] = {}
        marks = []
        cpu0 = self.monitor.cpu()
        p0 = time.time()
        for q in self.order():
            self.attempted += 1
            g = f"p{k}:{q.name}"
            try:
                self.sc.setJobGroup(f"{g}:build", q.name)
                t0 = time.time()
                df = q.spark(self.spark, self.sf_dir)
                t1 = time.time()
                if traced:
                    self.sc.setJobGroup(f"{g}:plan", q.name)
                    df._jdf.queryExecution().executedPlan()
                t2 = time.time()
                self.sc.setJobGroup(f"{g}:exec", q.name)
                df.write.format("noop").mode("overwrite").save()
                t3 = time.time()
            except Exception as e:
                self.failed += 1
                self.errors.append(f"{q.name}: {type(e).__name__}: {e}")
                continue
            walls[q.name] = t3 - t0
            marks.append((q.name, g, t0, t1, t2, t3))
        p1 = time.time()
        cpu1 = self.monitor.cpu()
        self.sc.setJobGroup("perfbench", "between passes")
        return {
            "k": k, "traced": traced, "wall": p1 - p0, "start": p0, "end": p1,
            "walls": walls, "marks": marks, "parent": parent,
            "cpu": {key: cpu1[key] - cpu0[key] for key in cpu0},
        }

    def layer_stats(self, p: dict) -> dict:
        """Per-layer sums over one pass, from the status store; adds the
        query/build/plan/execute/stage spans when tracing."""
        drain_listener_bus(self.spark)
        tot = defaultdict(float)
        pass_span = self.tracer.add(
            "pass", p["start"], p["end"], p["parent"], k=p["k"], traced=p["traced"]
        )
        for name, g, t0, t1, t2, t3 in p["marks"]:
            b = group_stage_stats(self.spark, f"{g}:build")
            e = group_stage_stats(self.spark, f"{g}:exec")
            tot["build_ms"] += (t1 - t0) * 1e3
            tot["build_jobs"] += b["jobs"]
            tot["plan_ms"] += (t2 - t1) * 1e3
            for key in b:
                if key != "intervals":
                    tot[key] += b[key] + e[key]
            covered = union_length(b["intervals"] + e["intervals"])
            tot["driver_gap_ms"] += ((t1 - t0) + (t3 - t2) - covered) * 1e3
            qs = self.tracer.add("query", t0, t3, pass_span, query=name)
            bs = self.tracer.add("build", t0, t1, qs, jobs=b["jobs"])
            if p["traced"]:
                self.tracer.add("plan", t1, t2, qs)
            es = self.tracer.add("execute", t2, t3, qs, jobs=e["jobs"])
            for parent, st in ((bs, b), (es, e)):
                for s, f in st["intervals"]:
                    self.tracer.add("stage", s, f, parent)
        tot["exec_wait_ms"] = tot["exec_run_ms"] - tot["exec_cpu_ms"]
        tot.update(p["cpu"])
        return dict(tot)


def run_batch(spark, registry, names, args, tracer, monitor, sf_dir) -> dict:
    rng = np.random.default_rng(args.seed)
    run = BatchRun(spark, registry, names, sf_dir, rng, tracer, monitor)
    tables = {
        t: os.path.join(sf_dir, f"{t}.parquet")
        for t in load_tool("verify_subset").TABLES
        if os.path.exists(os.path.join(sf_dir, f"{t}.parquet"))
    }
    root = tracer.new_id()
    w0 = time.time()
    run.warmup(OracleChecker(tables))
    # the first noop pass after the warm-up still reads 20-45% slow (the
    # JVM is compiling), so it is untimed too
    run.one_pass(-1, False, None)
    tracer.add("warmup", w0, time.time(), root)

    # timed passes until --seconds of pass time and at least MIN_PASSES;
    # traced runs go untraced, traced, traced, untraced, so the pass-to-pass
    # speed-up of a still-warming JVM cancels out of trace_overhead_s
    passes = []
    spent = 0.0
    min_passes = 4 if args.trace else MIN_PASSES
    while len(passes) < min_passes or spent < args.seconds:
        traced = bool(args.trace) and len(passes) % 4 in (1, 2)
        p = run.one_pass(len(passes), traced, root)
        passes.append(p)
        spent += p["wall"]
    tracer.add("workload", w0, time.time(), None, span_id=root, workload=args.workload)

    stats = [run.layer_stats(p) for p in passes]
    untraced = [p for p in passes if not p["traced"]]
    walls = defaultdict(list)
    for p in untraced:
        for n, w in p["walls"].items():
            walls[n].append(w)
    per_query = [w for p in untraced for w in p["walls"].values()]
    rows = stats[0]["input_records"]
    pass_s = median([p["wall"] for p in untraced])
    out = {
        "attempted": run.attempted, "failed": run.failed, "errors": run.errors,
        "passes": len(untraced), "pass_max_s": max(p["wall"] for p in untraced),
        "warmup_s": passes[0]["start"] - w0,
        "e2e": {
            "pass_s": pass_s,
            "query_geomean_s": geomean([median(v) for v in walls.values()]),
            "events_per_s": rows / pass_s if pass_s else 0.0,
            "latency_p50_s": percentile(per_query, 50),
            "latency_p90_s": percentile(per_query, 90),
        },
        "samples": {
            "per_query": len(per_query), "input_rows_per_pass": rows,
            "pass_walls": [p["wall"] for p in untraced],
            "query_walls": dict(walls),
        },
    }
    if args.trace:
        traced_stats = [s for s, p in zip(stats, passes) if p["traced"]]
        layer = {
            k: median([s[k] for s in traced_stats]) for k in traced_stats[0]
        }
        layer["trace_overhead_s"] = (
            median([p["wall"] for p in passes if p["traced"]]) - pass_s
        )
        counts = ("jobs", "stages", "tasks")
        plain = [s for s, p in zip(stats, passes) if not p["traced"]]
        out["counts_traced_equal_untraced"] = all(
            s[c] == plain[0][c] for s in traced_stats for c in counts
        )
        out["layer"] = layer
    return out


# ----------------------------------------------------------------- stream


def _iso_s(s: str) -> float:
    return dt.datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()


def _progress_dict(p) -> dict:
    ev = p.eventTime or {}
    ops = p.stateOperators or []
    return {
        "run_id": str(p.runId),
        "batch_id": p.batchId,
        "rows": p.numInputRows,
        "start": _iso_s(p.timestamp),
        "ms": dict(p.durationMs or {}),
        "state_rows": sum(o.numRowsTotal for o in ops),
        "state_mem": sum(o.memoryUsedBytes for o in ops),
        "dropped": sum(o.numRowsDroppedByWatermark for o in ops),
        "commit_ms": sum(o.commitTimeMs for o in ops),
        "ev_max": ev.get("max"), "watermark": ev.get("watermark"),
    }


def make_listener(sink: dict):
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        """Keeps every progress report, keyed by query run id."""

        def __init__(self):
            self.lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            d = _progress_dict(event.progress)
            with self.lock:
                sink.setdefault(d["run_id"], []).append(d)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Progress()


class StreamRun:
    def __init__(self, spark, registry, work, monitor):
        self.spark = spark
        self.registry = registry
        self.work = work
        self.monitor = monitor
        self.progress: dict[str, list[dict]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def build(self, watch: str, files_per_trigger: int, phase: str):
        """The two streaming queries, with the parameters of the registry's
        ``window_delta_trigger`` and ``cep_funnel_timeout_stream``."""
        from pyspark.sql import functions as F

        from flink_1_8_sourcecode_spark.cep.pattern import Pattern
        from flink_1_8_sourcecode_spark.cep.streaming import match_pattern_stream
        from flink_1_8_sourcecode_spark.queries import streaming_windows as sw
        from flink_1_8_sourcecode_spark.streaming import sources
        from flink_1_8_sourcecode_spark.streaming.triggers import triggered_tumble_agg

        stream = sources.read_event_stream(self.spark, watch, files_per_trigger)
        delta = triggered_tumble_agg(
            stream, key="user_id", time_col="ts", value_col="value",
            window_seconds=sw._WINDOW_S, trigger=("delta", sw._TRIGGER_DELTA),
            key_buckets=32,
        )
        pat = (
            Pattern.begin("signup")
            .where(lambda e: e["event_type"] == "signup")
            .followed_by("purchase")
            .where(lambda e: e["event_type"] == "purchase")
            .within("30 minutes")
        )
        cep = match_pattern_stream(
            stream.filter(F.col("event_type").isin("signup", "purchase", "noop")),
            pat, key="user_id", time_col="ts", select_cols=["event_id"],
            watermark_delay="10 minutes", tiebreak="event_id",
            key_buckets=16, emit_timeouts=True,
        )
        finals = {
            "window_delta_trigger": lambda t: t.filter(
                (F.col("user_id") >= 0) & F.col("is_final")
            ).select("user_id", "w_start", "cnt", "total"),
            "cep_funnel_timeout_stream": lambda t: t.filter(
                (F.col("user_id") >= 0) & F.col("timed_out")
                & (F.col("stage") == "signup")
            ).select("user_id", F.col("event_id").alias("signup_id")),
        }
        return [
            (name, df, finals[name], f"{phase}_{name}")
            for name, df in (
                ("window_delta_trigger", delta), ("cep_funnel_timeout_stream", cep)
            )
        ]

    def start(self, built):
        handles = []
        for name, df, final, sink in built:
            q = (
                df.writeStream.format("memory").queryName(sink)
                .option("checkpointLocation", os.path.join(self.work, "ckpt", sink))
                .outputMode("append").start()
            )
            handles.append((name, q, final, sink))
        return handles

    def finish(self, handles, phase: str, chunks: list[tuple[str, int]]) -> dict:
        """Wait for both queries to process everything, stop them, and
        check each sink against its oracle on the phase's events."""
        for _, q, _, _ in handles:
            q.processAllAvailable()
        for _, q, _, _ in handles:
            q.stop()
        per_query = {}
        data_files = [p for p, _ in chunks[:-1]]
        checker = OracleChecker({"events": data_files})
        for name, q, final, sink in handles:
            last = q.lastProgress["batchId"] if q.lastProgress else -1
            deadline = time.time() + 10
            while time.time() < deadline and not any(
                d["batch_id"] >= last for d in self.progress.get(str(q.runId), [])
            ):
                time.sleep(0.05)
            batches = sorted(
                self.progress.get(str(q.runId), []), key=lambda d: d["batch_id"]
            )
            per_query[name] = {"run_id": str(q.runId), "batches": batches}
            got = final(self.spark.table(sink)).toPandas()
            checker.submit(f"{phase}:{name}", self.registry[name].oracle, got)
        for name, ok, detail in checker.results():
            if not ok:
                qname = name.split(":", 1)[1]
                self.failed += len(chunks)
                self.errors.append(f"{name}: oracle mismatch {detail}")
                per_query[qname]["mismatch"] = True
        return per_query

    def phase(self, name: str, chunks, feeder=None, files_per_trigger=1000):
        from streamfeed import PacedFeeder

        watch = os.path.join(self.work, f"{name}_watch")
        os.makedirs(watch, exist_ok=True)
        cpu0 = self.monitor.cpu()
        sc = self.spark.sparkContext
        sc.setJobGroup(f"{name}:build", name)
        b0 = time.time()
        built = self.build(watch, files_per_trigger, name)
        t0 = time.time()
        sc.setJobGroup("perfbench", "stream")
        handles = self.start(built)
        fd = None
        if feeder is not None:
            fd = PacedFeeder(chunks, watch, feeder)
            fd.start(time.time() + 0.5)
            fd.join(timeout=STREAM_TIMEOUT_S)
            chunks = [(os.path.join(watch, os.path.basename(p)), r) for p, r in chunks]
        per_query = self.finish(handles, name, chunks)
        t1 = time.time()
        cpu1 = self.monitor.cpu()
        self.attempted += len(handles) * len(chunks)
        return {
            "name": name, "build_ms": (t0 - b0) * 1e3, "start": t0, "end": t1,
            "queries": per_query, "chunks": chunks, "feeder": fd,
            "cpu": {k: cpu1[k] - cpu0[k] for k in cpu0},
        }


def batch_end(d: dict) -> float:
    return d["start"] + d["ms"].get("triggerExecution", 0) / 1e3


def stream_phase_stats(ph: dict) -> dict:
    data = [d for q in ph["queries"].values() for d in q["batches"] if d["rows"]]
    allb = [d for q in ph["queries"].values() for d in q["batches"]]
    ms = lambda d, *ks: sum(d["ms"].get(k, 0) for k in ks)  # noqa: E731
    # a query's first batch runs before any watermark exists (epoch 0)
    lags = [
        _iso_s(d["ev_max"]) - _iso_s(d["watermark"])
        for d in data if d["ev_max"] and d["watermark"] and _iso_s(d["watermark"]) > 0
    ]
    return {
        "batches": len(allb),
        "batch_ms": median([ms(d, "triggerExecution") for d in data]),
        "add_batch_ms": median([ms(d, "addBatch") for d in data]),
        "batch_plan_ms": median([ms(d, "queryPlanning") for d in data]),
        "batch_log_ms": median([ms(d, "walCommit", "commitOffsets") for d in data]),
        "batch_offset_ms": median([ms(d, "latestOffset", "getBatch") for d in data]),
        "state_commit_ms": median([d["commit_ms"] for d in data]),
        "state_rows": max([d["state_rows"] for d in allb], default=0),
        "state_mem_bytes": max([d["state_mem"] for d in allb], default=0),
        "rows_dropped_late": sum(d["dropped"] for d in allb),
        "watermark_lag_s": median(lags),
    }


def run_stream(spark, registry, args, work, tracer, monitor, sf_dir) -> dict:
    from streamfeed import (
        backlog_max,
        chunk_batches,
        chunk_latencies,
        load_events,
        write_chunks,
    )

    rng = np.random.default_rng(args.seed)
    events = load_events(sf_dir)
    n_paced = max(MIN_PACED_CHUNKS, int(PACED_RATE * args.seconds))
    half = events.num_rows - n_paced * PACED_CHUNK_ROWS
    drain_chunks = write_chunks(
        events.slice(0, half), os.path.join(work, "drain_watch"), DRAIN_CHUNKS,
        rng, "d",
    )
    paced_chunks = write_chunks(
        events.slice(half), os.path.join(work, "paced_stage"), n_paced, rng, "p",
    )
    spark.conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))
    run = StreamRun(spark, registry, work, monitor)
    spark.streams.addListener(make_listener(run.progress))

    drain = run.phase("drain", drain_chunks, files_per_trigger=DRAIN_FILES_PER_TRIGGER)
    paced = run.phase("paced", paced_chunks, feeder=PACED_RATE)

    # drain: wall time from query start until both have committed the
    # batch holding the last chunk (the sentinel)
    drain_rows = [r for _, r in drain_chunks]
    done = []
    for name, q in drain["queries"].items():
        rows = [d["rows"] for d in q["batches"]]
        idx = chunk_batches(drain_rows, rows)[-1]
        if idx is None:
            run.failed += len(drain_rows)
            run.errors.append(f"drain:{name}: not all rows committed")
            continue
        done.append(batch_end(q["batches"][idx]) - drain["start"])
    drain_s = max(done) if done else 0.0

    # paced: one latency sample per (query, data chunk)
    fd = paced["feeder"]
    due = [a.due for a in fd.arrivals]
    moved = [a.moved for a in fd.arrivals]
    paced_rows = [a.rows for a in fd.arrivals]
    lat, backlog = [], 0
    for name, q in paced["queries"].items():
        rows = [d["rows"] for d in q["batches"]]
        ends = [batch_end(d) for d in q["batches"]]
        ls = chunk_latencies(due, paced_rows, rows, ends)[:-1]  # not the sentinel
        bad = sum(1 for x in ls if x is None or x < 0)
        if bad:
            run.failed += bad
            run.errors.append(f"paced:{name}: {bad} chunks not mapped to a batch")
        lat += [x for x in ls if x is not None and x >= 0]
        committed = [
            None if b is None else ends[b] for b in chunk_batches(paced_rows, rows)
        ]
        backlog = max(backlog, backlog_max(moved, committed))
    gen_lag = max(m - d for m, d in zip(moved, due))

    layer = {}
    for ph in (drain, paced):
        st = stream_phase_stats(ph)
        if st["rows_dropped_late"]:
            run.failed += st["rows_dropped_late"]
            run.errors.append(f"{ph['name']}: {st['rows_dropped_late']} rows dropped late")
        layer.update({f"{ph['name']}.{k}": v for k, v in st.items()})

    out = {
        "attempted": run.attempted, "failed": run.failed, "errors": run.errors,
        "e2e": {
            "pass_s": drain_s,
            "query_geomean_s": geomean(done),
            "events_per_s": sum(drain_rows[:-1]) / drain_s if drain_s else 0.0,
            "latency_p50_s": percentile(lat, 50),
            "latency_p90_s": percentile(lat, 90),
        },
        "samples": {
            "latency": len(lat), "paced_chunks": n_paced,
            "paced_rate_chunks_per_s": PACED_RATE,
            "paced_rate_events_per_s": PACED_RATE * sum(paced_rows[:-1]) / n_paced,
            "drain_chunks": DRAIN_CHUNKS,
            "drain_files_per_trigger": DRAIN_FILES_PER_TRIGGER,
        },
        "generator": {"gen_lag_s": gen_lag, "backlog_files_max": backlog},
    }
    if args.trace:
        c0 = time.time()
        layer.update(stream_engine_stats(spark, run, tracer, (drain, paced)))
        layer["gen_lag_s"] = gen_lag
        layer["backlog_files_max"] = backlog
        layer["trace_overhead_s"] = time.time() - c0
        out["layer"] = layer
    return out


def stream_engine_stats(spark, run, tracer, phases) -> dict:
    """Scheduler/executor totals per stream query from its job group (the
    query's run id), plus stream -> phase -> micro-batch spans."""
    drain_listener_bus(spark)
    tot = defaultdict(float)
    root = tracer.add("stream", phases[0]["start"], phases[-1]["end"], None)
    for ph in phases:
        ps = tracer.add("phase", ph["start"], ph["end"], root, phase=ph["name"])
        tot["build_ms"] += ph["build_ms"]
        build = group_stage_stats(spark, f"{ph['name']}:build")
        tot["build_jobs"] += build["jobs"]
        for k, v in build.items():
            if k != "intervals":
                tot[k] += v
        for name, q in ph["queries"].items():
            st = group_stage_stats(spark, q["run_id"])
            for k, v in st.items():
                if k != "intervals":
                    tot[k] += v
            busy = sum(d["ms"].get("triggerExecution", 0) for d in q["batches"])
            tot["driver_gap_ms"] += busy - union_length(st["intervals"]) * 1e3
            tot["plan_ms"] += sum(d["ms"].get("queryPlanning", 0) for d in q["batches"])
            for d in q["batches"]:
                tracer.add(
                    "micro-batch", d["start"], batch_end(d), ps, query=name,
                    batch_id=d["batch_id"], rows=d["rows"], ms=d["ms"],
                )
        for k, v in ph["cpu"].items():
            tot[k] += v
    tot["exec_wait_ms"] = tot["exec_run_ms"] - tot["exec_cpu_ms"]
    tot.pop("input_records", None)
    return dict(tot)


# ------------------------------------------------------------------- main


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--setup-only", action="store_true")
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data")
    args = ap.parse_args()

    spark, registry, setup_t = setup(args.t0, args.work)
    result = {"setup": setup_t}
    try:
        if args.setup_only:
            return 0
        sc = spark.sparkContext
        result["config"] = {
            "master": sc.master,
            "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "state_partitions": STATE_PARTITIONS,
            "sf_dir": args.data,
        }
        tracer = Tracer(enabled=bool(args.trace))
        with ProcMonitor(sc._gateway.proc.pid) as monitor:
            if args.workload == "stream_events":
                r = run_stream(spark, registry, args, args.work, tracer, monitor, args.data)
            else:
                names = BATCH_SQL if args.workload == "batch_sql" else BATCH_PYOPS
                r = run_batch(spark, registry, names, args, tracer, monitor, args.data)
            r["peak_rss_mb"] = monitor.peak_rss_mb()
        result.update(r)
        if args.trace:
            span_path = os.path.splitext(args.out)[0] + ".spans.jsonl"
            tracer.write(span_path)
            result["span_file"] = span_path
    except Exception:
        result["fatal"] = traceback.format_exc()
    finally:
        with open(args.out, "w") as f:
            json.dump(result, f, indent=1, default=str)
        shutdown(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
