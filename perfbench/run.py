#!/usr/bin/env python3
"""Benchmark of the analytics engine: registry queries (short and
multi-pass) and medallion pipeline cycles.

    python3 perfbench/run.py --workload registry_queries --seed 1 \
        --seconds 5 --trace 0

Run from the repository root. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end metrics, with ``--trace 1`` the per-layer
metrics (see BENCHMARK.json and perfbench/README.md). The line before it
carries run metadata: host CPU probe, tail percentile, sample counts,
failures and, for traced runs, where the span file was written.

Everything the run writes goes under ``.perfbench_work/`` in the
repository root.
"""

from __future__ import annotations

import argparse
import functools
import glob
import json
import math
import os
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "ai_powered_e_commerce_analytics_spark"

WORKLOADS = ("registry_queries", "medallion_cycles")

#: Scale of the inputs. ``bench`` is what BENCHMARK.json runs; ``smoke``
#: is the smallest input, for the smoke test. ``sf_dir`` names the tables
#: under perfbench/data/. 1,003 rows per pull: a cycle's 10,030 rows fill
#: both key pools (5,000 users, 10,000 shops) and are not a multiple of
#: the 25-row LLM batch.
SCALES = {
    "bench": {"sf_dir": "sf0.01", "rows_per_pull": 1003},
    "smoke": {"sf_dir": "sf0.001", "rows_per_pull": 5},
}

END_TO_END = [
    ("setup_s", "s"),
    ("latency_p50_s", "s"),
    ("latency_tail_s", "s"),
    ("ops_per_s", "1/s"),
    ("cpu_s_per_op", "s"),
]

PER_LAYER = [
    ("session.start_s", "s"),
    ("session.peak_rss_mb", "MB"),
    ("plans.build_s", "s"),
    ("plans.build_jobs", "count"),
    ("plans.build_share", "ratio"),
    ("sources.schema_jobs", "count"),
    ("functions.pin_calls", "count"),
    ("functions.pin_s", "s"),
    ("functions.cached_bytes", "bytes"),
    ("functions.leaked_rdds", "count"),
    ("functions.leaked_cache_entries", "count"),
    ("plans.exec_s", "s"),
    ("plans.exec_jobs", "count"),
    ("plans.stages", "count"),
    ("plans.tasks", "count"),
    ("plans.task_busy_share", "ratio"),
    ("plans.shuffle_read_bytes", "bytes"),
    ("plans.shuffle_write_bytes", "bytes"),
    ("plans.spill_bytes", "bytes"),
    ("plans.scan_bytes", "bytes"),
    ("plans.executing_scans", "count"),
    ("plans.python_rows", "count"),
    ("plans.hygiene_s", "s"),
    ("enrich.llm_calls", "count"),
    ("enrich.calls_per_batch", "ratio"),
    ("enrich.rows_per_call", "count"),
    ("enrich.retries", "count"),
    ("enrich.null_filled_rows", "count"),
    ("enrich.llm_busy_s", "s"),
    ("sinks.upsert_s", "s"),
    ("sinks.snapshot_s", "s"),
    ("sinks.silver_s", "s"),
    ("sinks.bronze_s", "s"),
    ("sinks.bytes_written_per_input_byte", "ratio"),
    ("sinks.live_bytes", "bytes"),
    ("pipeline.collect_s", "s"),
    ("pipeline.review_s", "s"),
    ("pipeline.etl_s", "s"),
    ("pipeline.rows_per_s", "1/s"),
    ("pipeline.disk_bytes_per_input_byte", "ratio"),
    ("sources.json_files_read", "count"),
    ("hadoop.files_moved", "count"),
    ("trace.latency_p50_s", "s"),
    ("trace.bookkeeping_s", "s"),
]

#: Per-operation counters: reported as the mean per measured operation.
_PER_OP = {
    "plans.build_s", "plans.build_jobs", "sources.schema_jobs",
    "functions.pin_calls", "functions.pin_s", "functions.cached_bytes",
    "functions.leaked_rdds", "functions.leaked_cache_entries",
    "plans.exec_s", "plans.exec_jobs", "plans.stages", "plans.tasks",
    "plans.shuffle_read_bytes", "plans.shuffle_write_bytes",
    "plans.spill_bytes", "plans.scan_bytes", "plans.executing_scans",
    "plans.python_rows", "plans.hygiene_s", "sinks.upsert_s",
    "sinks.snapshot_s", "sinks.silver_s", "sinks.bronze_s",
    "pipeline.collect_s", "pipeline.review_s", "pipeline.etl_s",
    "sources.json_files_read", "hadoop.files_moved", "trace.bookkeeping_s",
}


def tail_percentile(min_samples: int) -> int:
    """Highest whole percentile with at least ten samples beyond it among
    the measured operations, or 100 (the maximum) when there are too few
    for one above the median. Their number is fixed per workload, so a
    faster program is compared at the same percentile."""
    pct = int(100 * (min_samples - 10) / min_samples) if min_samples > 10 else 0
    return pct if pct > 50 else 100


def percentile(values: list[float], pct: int) -> float:
    if pct >= 100 or len(values) < 2:
        return max(values)
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="bench")
    return ap.parse_args(argv)


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and let workers import the engine and this directory."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Every JVM (Spark's launcher and the engine's): no hsperfdata file in
    # /tmp, temporary files in the checkout.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    )
    sys.path.insert(0, ROOT)


def _start_spark(work: str):
    from ai_powered_e_commerce_analytics_spark.session import get_spark

    start = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        extra_conf={"spark.sql.warehouse.dir": os.path.join(work, "warehouse")},
    )
    return spark, time.perf_counter() - start


def _stop_spark(spark) -> None:
    """Stop Spark, the JVM and its Python workers, and wait for them."""
    import meter
    from pyspark import SparkContext

    tree = [p for p in meter.tree_pids(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits at end of its stdin
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - escalate below
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
        deadline = time.monotonic() + 30
        for sig in (signal.SIGTERM, signal.SIGKILL):
            while time.monotonic() < deadline and any(_alive(p) for p in tree):
                time.sleep(0.1)
            for pid in tree:
                if _alive(pid):
                    os.kill(pid, sig)
            deadline = time.monotonic() + 10


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _install_layer_wrappers(tracer, probe) -> None:
    """Traced run only: time and count calls into the engine's public
    layer functions from outside."""
    import meter
    import pyspark.sql.readwriter as rw
    from ai_powered_e_commerce_analytics_spark import hadoop, pipeline, sinks
    from ai_powered_e_commerce_analytics_spark.functions import core

    real_pin = core.pin

    @functools.wraps(real_pin)
    def pin(df, *args, **kwargs):
        tracer.add("functions.pin_calls", 1)
        with tracer.span("functions.pin"):
            return real_pin(df, *args, **kwargs)

    meter.wrap_everywhere(PACKAGE, real_pin, pin)

    real_parquet = rw.DataFrameReader.parquet

    @functools.wraps(real_parquet)
    def parquet(self, *paths, **options):
        # Jobs a read starts (schema inference, schema merging) run in
        # the operation's "-r" job group.
        if tracer.op is None:
            return real_parquet(self, *paths, **options)
        prev = probe.set_group(tracer.op + "-r")
        try:
            with tracer.span("sources.read_parquet"):
                return real_parquet(self, *paths, **options)
        finally:
            probe.set_group(prev)

    rw.DataFrameReader.parquet = parquet

    def written(result, _args):
        tracer.add("sinks.bytes_written", meter.du_bytes(result))

    meter.wrap_attr(pipeline, "write_gold_snapshot", tracer, "sinks.snapshot", written)
    meter.wrap_attr(pipeline, "write_silver_chunks", tracer, "sinks.silver", written)
    meter.wrap_attr(sinks, "write_bronze_batch", tracer, "sinks.bronze", written)

    real_upsert = pipeline.upsert_kpi_tables

    @functools.wraps(real_upsert)
    def upsert(spark, kpis, base_dir, *args, **kwargs):
        before = set(glob.glob(os.path.join(base_dir, "*", "data", "tx_*")))
        with tracer.span("sinks.upsert"):
            real_upsert(spark, kpis, base_dir, *args, **kwargs)
        for tx in set(glob.glob(os.path.join(base_dir, "*", "data", "tx_*"))) - before:
            tracer.add("sinks.bytes_written", meter.du_bytes(tx))

    pipeline.upsert_kpi_tables = upsert

    def files_read(_result, args):
        n = sum(len(glob.glob(os.path.join(d, "*.json"))) for d, _s, _f in os.walk(args[1]))
        tracer.add("sources.json_files_read", n)

    meter.wrap_attr(pipeline, "read_json_dir", tracer, "sources.read_json", files_read)
    meter.wrap_attr(
        hadoop, "move_file", tracer, "hadoop.move",
        lambda moved, _a: tracer.add("hadoop.files_moved", 1 if moved else 0),
    )


def run(args, work: str) -> tuple[dict, dict]:
    import inputs
    from bench import cpu_probe_s

    scale = SCALES[args.scale]
    host_probe_s = cpu_probe_s()
    tables_dir = os.path.join(inputs.DATA, scale["sf_dir"])

    spark, session_start_s = _start_spark(work)
    try:
        return _measure(args, work, scale, spark, session_start_s, tables_dir, host_probe_s)
    finally:
        _stop_spark(spark)


def _measure(args, work, scale, spark, session_start_s, tables_dir, host_probe_s):
    import meter
    import workloads

    tracer = meter.Tracer(enabled=False)
    probe = meter.SparkProbe(spark)
    if args.workload == "medallion_cycles":
        wl = workloads.Medallion(
            spark, work, probe, tracer, args.seed, scale["rows_per_pull"]
        )
    else:
        wl = workloads.QueryMix(
            workloads.INTERACTIVE + workloads.MULTIPASS,
            spark, tables_dir, os.path.join(work, "oracle"), probe, tracer,
            args.seed,
        )
    if args.trace:
        _install_layer_wrappers(tracer, probe)

    wl.prepare()
    warm_s = wl.warmup()
    meter.hygiene(spark)
    setup_s = session_start_s + warm_s

    # The metrics cover a fixed number of whole passes (a pass is every
    # query of the mix once, or one cycle), so a faster program is measured
    # on the same work. If they end before --seconds, further passes run,
    # checked and counted in `attempted`, but stay out of the metrics.
    measured_passes = wl.measured_passes if args.scale == "bench" else 1
    medallion = isinstance(wl, workloads.Medallion)
    enrich0 = wl.enrich_counts() if medallion else None
    input0 = (wl.input_rows, wl.input_bytes) if medallion else None
    tracer.enabled = bool(args.trace)
    latencies: list[float] = []
    attempted = failed = 0
    errors: dict[str, str] = {}
    cpu0, host0 = meter.tree_cpu_s(), meter.host_cpu_ticks()
    start = time.perf_counter()
    for passes_done, order in enumerate(wl.passes()):
        if passes_done == measured_passes:  # the measured window ends here
            tracer.enabled = False
            window = {
                "wall": time.perf_counter() - start,
                "cpu": meter.tree_cpu_s() - cpu0,
                "host": [b - a for a, b in zip(host0, meter.host_cpu_ticks())],
                "peak_rss_mb": meter.tree_peak_rss_mb(),
            }
            if medallion:
                e1 = wl.enrich_counts()
                window["enrich"] = {k: e1[k] - enrich0[k] for k in e1}
                window["rows"] = wl.input_rows - input0[0]
                window["in_bytes"] = wl.input_bytes - input0[1]
        if passes_done >= measured_passes and time.perf_counter() - start >= args.seconds:
            break
        for name in order:
            gid = f"op{attempted}:{name}"
            since = probe.sql_executions() if tracer.enabled else 0
            tracer.op = gid
            t0 = time.perf_counter()
            try:
                wl.op(name, gid)
                error = None
            except Exception as exc:  # noqa: BLE001 - counted as failed
                error = f"{type(exc).__name__}: {exc}"[:300]
            latency = time.perf_counter() - t0
            if passes_done < measured_passes:
                latencies.append(latency)
            attempted += 1
            if error:
                errors[name] = error
            failed += not (error is None and wl.verify(name))
            if tracer.enabled:
                t1 = time.perf_counter()
                for key, val in probe.cache_state().items():
                    tracer.add(f"functions.{key}", val)
                wl.account(gid, since, latency)
                tracer.add("trace.bookkeeping_s", time.perf_counter() - t1)
            tracer.op = None
            with tracer.span("plans.hygiene"):
                meter.hygiene(spark)
    steal, ticks = window["host"]

    problems = wl.final_check()
    if problems:  # cumulative state is wrong: no measured cycle counts
        failed = attempted
    errors.update(wl.failures())

    n = len(latencies)
    pct = tail_percentile(n)
    tail = percentile(latencies, pct)
    meta = {
        "workload": args.workload, "seed": args.seed, "scale": args.scale,
        "host_cpu_probe_s": round(host_probe_s, 4),
        "host_steal_share": round(steal / ticks, 4) if ticks else 0.0,
        "samples": len(latencies), "tail_percentile": pct,
        "latencies_s": [round(v, 4) for v in latencies],
        "samples_beyond_tail": sum(v > tail for v in latencies),
        "measured_s": round(window["wall"], 3), "setup": {
            "session_start_s": round(session_start_s, 3), "warmup_s": round(warm_s, 3),
        },
        "error_rate": failed / attempted, "errors": errors, "problems": problems,
    }
    if args.trace:
        metrics = _layer_metrics(wl, tracer, latencies, window, session_start_s)
        path = os.path.join(work, f"trace-{args.workload}-seed{args.seed}.json")
        tracer.dump(path)
        meta["trace_file"] = os.path.relpath(path, ROOT)
        meta["trace_overhead"] = (
            "compare trace.latency_p50_s with latency_p50_s of the untraced "
            "run of the same workload and seed"
        )
        units = dict(PER_LAYER)
    else:
        metrics = {
            "setup_s": setup_s,
            "latency_p50_s": statistics.median(latencies),
            "latency_tail_s": tail,
            "ops_per_s": n / window["wall"],
            "cpu_s_per_op": window["cpu"] / n,
        }
        units = dict(END_TO_END)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return result, meta


def _layer_metrics(wl, tracer, latencies, window, session_start_s) -> dict[str, float]:
    import meter

    n = len(latencies)
    c = tracer.counts
    out = {name: 0.0 for name, _unit in PER_LAYER}
    for key in _PER_OP:
        out[key] = c.get(key, 0.0) / n
    out["session.start_s"] = session_start_s
    out["session.peak_rss_mb"] = window["peak_rss_mb"]
    build, execute = c.get("plans.build_s", 0.0), c.get("plans.exec_s", 0.0)
    if build + execute:
        out["plans.build_share"] = build / (build + execute)
    if execute:
        cores = len(os.sched_getaffinity(0))
        out["plans.task_busy_share"] = c.get("plans.exec_run_ms", 0.0) / 1000 / (execute * cores)
    out["trace.latency_p50_s"] = statistics.median(latencies)
    if "enrich" in window:  # medallion_cycles
        e, rows, in_bytes = window["enrich"], window["rows"], window["in_bytes"]
        # Both LLM stages see every input row once: ceil(rows/25) batches
        # each when nothing is repeated.
        batches = 2 * math.ceil(rows / wl.cfg.batch_size)
        out.update({
            "enrich.llm_calls": e["calls"] / n,
            "enrich.calls_per_batch": e["calls"] / batches,
            "enrich.rows_per_call": e["rows"] / e["calls"] if e["calls"] else 0.0,
            "enrich.retries": e["retries"] / n,
            "enrich.null_filled_rows": e["null_filled"] / n,
            "enrich.llm_busy_s": e["busy_s"] / n,
            "sinks.bytes_written_per_input_byte": c.get("sinks.bytes_written", 0.0) / in_bytes,
            "sinks.live_bytes": float(meter.du_bytes(wl.base)),
            "pipeline.rows_per_s": rows / window["wall"],
            "pipeline.disk_bytes_per_input_byte": meter.du_bytes(wl.base) / wl.input_bytes,
        })
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(
            f"perfbench: no {PACKAGE}/ package next to perfbench/ — run "
            "from a checkout of the engine",
            file=sys.stderr,
        )
        return 2
    work = os.path.join(ROOT, ".perfbench_work")
    _prepare_env(work)
    result, meta = run(args, work)
    print(json.dumps(meta))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
