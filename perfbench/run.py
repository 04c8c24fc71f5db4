#!/usr/bin/env python3
"""Repository benchmark: batch_sql, batch_pyops and stream_events.

Run from the repository root:

    python3 perfbench/run.py --workload batch_sql --seed 1 --seconds 10 --trace 0

Each run sets up the engine twice in fresh processes (the median is
``setup_s``), the second time as the start of the workload process on
``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this process may use).
The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import ctypes
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "flink_1_8_sourcecode_spark"
WORKLOADS = ("batch_sql", "batch_pyops", "stream_events")
SETUP_SAMPLES = 2  # the workload process plus SETUP_SAMPLES - 1 probes
RUN_DEADLINE_S = 170  # every process of a run ends within this
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)

E2E = {
    "setup_s": "s", "pass_s": "s", "query_geomean_s": "s",
    "events_per_s": "1/s", "latency_p90_s": "s",
}
LAYER_UNITS = {
    "session.start_s": "s", "registry.load_s": "s", "build_ms": "ms",
    "build_jobs": "count", "plan_ms": "ms", "jobs": "count",
    "stages": "count", "tasks": "count", "driver_gap_ms": "ms",
    "exec_run_ms": "ms", "exec_cpu_ms": "ms", "gc_ms": "ms", "jvm_cpu_s": "s",
    "shuffle_write_bytes": "bytes", "shuffle_read_bytes": "bytes",
    "spill_bytes": "bytes", "pyworker_cpu_s": "s", "exec_wait_ms": "ms",
    "driver_py_cpu_s": "s",
    **{
        f"{ph}.{k}": u
        for ph in ("drain", "paced")
        for k, u in (
            ("batches", "count"), ("batch_ms", "ms"), ("add_batch_ms", "ms"),
            ("batch_plan_ms", "ms"), ("batch_log_ms", "ms"),
            ("batch_offset_ms", "ms"), ("state_commit_ms", "ms"),
            ("state_rows", "count"), ("state_mem_bytes", "bytes"),
            ("rows_dropped_late", "count"), ("watermark_lag_s", "s"),
        )
    },
    "gen_lag_s": "s", "backlog_files_max": "count", "trace_overhead_s": "s",
    "peak_rss_mb": "MB", "latency_p50_s": "s",
}


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def become_subreaper() -> None:
    """Adopt orphaned descendants (the JVM, Python workers) so they can be
    reaped here if a workload process dies early."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def reap_all(timeout: float = 20.0) -> None:
    """Terminate and wait for every remaining descendant."""
    deadline = time.time() + timeout
    sig = signal.SIGTERM
    while True:
        kids = [
            int(p) for p in os.listdir("/proc")
            if p.isdigit() and _ppid(int(p)) == os.getpid()
        ]
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        if not kids:
            return
        if time.time() > deadline:
            sig = signal.SIGKILL
        for k in kids:
            try:
                os.kill(k, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def _ppid(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
        return int(raw[raw.rindex(")") + 2:].split()[1])
    except (OSError, ValueError):
        return -1


def sf_dir() -> str:
    """The engine's declared data location (``session.DEFAULT_SF_DIR``)."""
    spec = importlib.util.spec_from_file_location(
        f"{PKG}.session", os.path.join(ROOT, PKG, "session.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.DEFAULT_SF_DIR


def pyops_data(src: str, out: str, seed: int) -> str:
    """Documents and embeddings resampled by ``tools/gen_sf.py`` (factor 1,
    this seed); every other table linked verbatim from ``src``."""
    spec = importlib.util.spec_from_file_location(
        "gen_sf", os.path.join(ROOT, "tools", "gen_sf.py")
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    import duckdb

    os.makedirs(out)
    for t in TABLES:
        if t not in ("documents", "embeddings"):
            os.symlink(os.path.join(src, f"{t}.parquet"), os.path.join(out, f"{t}.parquet"))
    con = duckdb.connect()
    try:
        gen.gen_documents(con, src, out, 1, seed)
        gen.gen_embeddings(con, src, out, 1, seed)
    finally:
        con.close()
    return out


def child(argv: list[str], env: dict, work: str, log: str, out: str,
          deadline: float) -> dict:
    t0 = time.time()
    with open(log, "a") as lf:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "child.py"), "--t0", repr(t0),
             "--work", work, "--out", out, *argv],
            env=env, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
        )
        try:
            proc.wait(timeout=max(1.0, deadline - t0))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"workload process timed out ({argv})")
    if not os.path.exists(out):
        raise RuntimeError(f"workload process wrote no result (exit {proc.returncode})")
    with open(out) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in (f"{PKG}/queries/__init__.py", "tools/verify_subset.py", "tools/gen_sf.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            return fail(f"{need} not found: run from a checkout of the repository")
    src = sf_dir()
    missing = [t for t in TABLES if not os.path.isfile(os.path.join(src, f"{t}.parquet"))]
    if missing:
        return fail(f"input tables {missing} not found in {src}")

    become_subreaper()
    base = os.path.join(HERE, ".work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    outdir = os.path.join(base, "out")
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(outdir, exist_ok=True)
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_SHUFFLE", None)  # measure the engine's own sizing
    env["SPARK_GRAFT_CPUS"] = env.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    # Spark's Python workers import the package from here, whatever the cwd
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, env.get("PYTHONPATH")) if p
    )
    env["TMPDIR"] = os.path.join(work, "tmp")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    log = os.path.join(work, "child.log")
    tag = f"{args.workload}-{args.seed}-{'trace' if args.trace else 'plain'}"

    stamps = {"start": time.time()}
    deadline = stamps["start"] + RUN_DEADLINE_S
    try:
        data = src
        if args.workload == "batch_pyops":
            data = pyops_data(src, os.path.join(work, "data"), args.seed)
        setups = []
        for i in range(SETUP_SAMPLES - 1):
            r = child(
                ["--setup-only"], env, work, log, os.path.join(work, f"setup{i}.json"),
                deadline,
            )
            setups.append(r["setup"])
        stamps["probes"] = time.time()
        res = child(
            ["--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--data", data],
            env, work, log, os.path.join(outdir, f"{tag}.json"), deadline,
        )
        setups.append(res["setup"])
        if "fatal" in res:
            raise RuntimeError(res["fatal"])
    except Exception as e:
        if os.path.exists(log):
            with open(log) as f:
                sys.stderr.write(f.read()[-4000:])
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        reap_all()
        shutil.rmtree(work, ignore_errors=True)
        stamps["end"] = time.time()

    setup = {k: statistics.median(s[k] for s in setups) for k in setups[0]}
    attempted, failed = res["attempted"], res["failed"]
    if args.trace:
        layer = {
            **res["layer"], "peak_rss_mb": res["peak_rss_mb"],
            "latency_p50_s": res["e2e"]["latency_p50_s"],
            **{k: setup[k] for k in ("session.start_s", "registry.load_s")},
        }
        metrics = {k: {"value": layer.get(k, 0), "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        e2e = {**res["e2e"], "setup_s": setup["setup_s"]}
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E.items()}
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "failed_frac": failed / attempted if attempted else 1.0,
        "errors": res["errors"], "config": res["config"],
        "setup_samples": len(setups), "samples": res.get("samples"),
        "passes": res.get("passes"), "pass_max_s": res.get("pass_max_s"),
        "generator": res.get("generator"), "span_file": res.get("span_file"),
        "counts_traced_equal_untraced": res.get("counts_traced_equal_untraced"),
        "peak_rss_mb": res["peak_rss_mb"], "warmup_s": res.get("warmup_s"),
        "timeline_s": {k: round(v - stamps["start"], 2) for k, v in stamps.items()},
    }
    print(json.dumps(summary))
    lines = {k: (m["value"], m["unit"]) for k, m in metrics.items()}
    lines.setdefault("latency_p50_s", (res["e2e"]["latency_p50_s"], "s"))
    lines.setdefault("peak_rss_mb", (res["peak_rss_mb"], "MB"))
    lines["failed_frac"] = (summary["failed_frac"], "ratio")
    for k, (v, u) in lines.items():
        print(f"{args.workload} {k} = {v:.6g} {u}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
