#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload lazy_queries --seed 1 --seconds 15 --trace 0

Workloads: ``lazy_queries``, ``eager_hosts`` (closed-loop batch passes
over registry queries) and ``sensor_ingest`` (open-loop streaming
ingest beside keyed reads). ``--trace 0`` reports the end-to-end
metrics, ``--trace 1`` the per-layer ones. Everything the run writes
goes under ``.perfbench/`` at the repository root. See NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import batch, datagen, sensor, stats  # noqa: E402
from perfbench.probe import RssSampler, SparkRest, engine_totals, loadavg  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

OUT = os.path.join(ROOT, ".perfbench")
SF = 0.01
SETUPS = 5
WORKLOADS = ("lazy_queries", "eager_hosts", "sensor_ingest")
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "peak_rss_mb": "MiB",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric and its unit, in BENCHMARK.json order."""
    u = {
        "session.get_spark_s": "s",
        "catalog.load_table.calls": "count",
        "catalog.load_table_s": "s",
        "plans.construct_s": "s",
        "plans.action_s": "s",
    }
    for q in batch.EAGER_DEFAULT:
        u[f"plans.{q}.s"] = "s"
    for k in ("jobs", "jobs.checkpoint", "jobs.broadcast", "jobs.collect", "jobs_unattributed", "stages", "tasks"):
        u[f"spark.{k}"] = "count"
    u.update(
        {
            "spark.executor_run_s": "s",
            "spark.executor_cpu_s": "s",
            "spark.jvm_gc_s": "s",
            "spark.shuffle_write_mb": "MiB",
            "spark.input_mb": "MiB",
            "spark.busy_share": "ratio",
            "caching.release_result_s": "s",
            "caching.leaked_rdds": "count",
            "csv_dim.read_mapping_s": "s",
            "streaming.batches": "count",
            "streaming.files_per_batch": "count",
            "streaming.trigger_s.p50": "s",
            "streaming.latest_offset_s.p50": "s",
            "streaming.query_planning_s.p50": "s",
            "streaming.wal_commit_s.p50": "s",
            "streaming.add_batch_s.p50": "s",
            "streaming.add_batch_s.tail": "s",
            "streaming.persisted_share": "ratio",
            "sinks.upsert.calls": "count",
            "sinks.upsert_s.p50": "s",
            "sinks.upsert_s.tail": "s",
            "sinks.rows_written_per_row_ingested": "ratio",
            "sinks.bytes_written_per_byte_ingested": "ratio",
            "sinks.read.plan_s.p50": "s",
            "sinks.read.collect_s.p50": "s",
            "sinks.read.failed": "count",
            "ingest_latency_tail_s": "s",
            "ingest_rows_per_s": "rows/s",
            "error_rate": "ratio",
            "loadgen.lag_max_s": "s",
            "host.load_1min.start": "load",
            "host.load_1min.end": "load",
            "trace.spans": "count",
        }
    )
    return u


class Ctx:
    def __init__(self, args):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.tracer = Tracer(self.trace)
        self.sf_dir = None
        self.spark = None
        self.rest = None
        self.queries = None
        self.load_calls: list[float] = []


def _setup_env() -> None:
    os.environ["TZ"] = "UTC"
    time.tzset()
    # 4 local cores unless the caller pins another count; Spark's
    # scratch and Python's temp files stay inside the checkout
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    for var, sub in (("SPARK_LOCAL_DIRS", "spark-local"), ("TMPDIR", "tmp")):
        d = os.path.join(OUT, sub)
        os.makedirs(d, exist_ok=True)
        os.environ[var] = d


def run_setups(ctx, prep, teardown) -> tuple[list[float], list[float]]:
    """Set up ``SETUPS`` times (the first includes imports and the JVM
    launch); every set-up but the last is torn down again."""
    setup_s, get_spark_s = [], []
    for k in range(SETUPS):
        t0 = time.perf_counter()
        with ctx.tracer.span("setup", op=f"setup-{k}"):
            from unimib_simpss_spark.session import get_spark

            g0 = time.perf_counter()
            with ctx.tracer.span("get_spark"):
                spark = get_spark(app_name="perfbench")
            get_spark_s.append(time.perf_counter() - g0)
            spark.sparkContext.setLogLevel("ERROR")
            ctx.spark = spark
            prep(spark, k)
        setup_s.append(time.perf_counter() - t0)
        if k < SETUPS - 1:
            teardown(spark)
    return setup_s, get_spark_s


def stop_jvm() -> None:
    """End the Spark JVM this process launched and wait for it: it exits
    when its stdin pipe closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def metric_block(values: dict, units: dict) -> dict:
    return {k: {"value": float(values.get(k, 0.0)), "unit": units[k]} for k in units}


def run_batch(ctx, args) -> tuple[dict, dict, int, int, bool]:
    from perfbench import fingerprint

    ctx.sf_dir = datagen.write_tables(os.path.join(OUT, "data", f"sf{SF}"), SF)
    short = batch.WORKLOADS[ctx.workload][1 if args.full else 0]
    setup_s, get_spark_s = run_setups(
        ctx, lambda s, k: batch.warm_up(s, ctx.sf_dir), lambda s: s.stop()
    )
    spark = ctx.spark
    names = batch.resolve(short)
    from unimib_simpss_spark.plans import registry

    ctx.queries = registry.queries()
    if ctx.trace:
        from unimib_simpss_spark import catalog

        ctx.rest = SparkRest(spark)
        ctx.tracer.wrap(catalog, "load_table", "load_table", ctx.load_calls)
    run = batch.BatchRun(ctx, names)
    warm = batch.planned_passes(ctx.seconds, *batch.NOMINAL_PASS_S[(ctx.workload, args.full)])
    t0 = time.perf_counter()
    run.run_passes(warm, random.Random(ctx.seed), fingerprint.load_pinned())
    window = time.perf_counter() - t0 - run.first_pass_s
    e2e = run.summary()
    e2e["setup_s"] = stats.median(setup_s)
    report = {
        "setup_runs_s": setup_s,
        "queries": short,
        "mismatches": run.mismatches,
        "errors": run.errors,
        **e2e,
    }
    layer = {}
    if ctx.trace:
        tot = engine_totals(ctx.rest, *run.after_check)
        layer.update(run.layer_metrics(tot, window, spark.sparkContext.defaultParallelism))
        layer["session.get_spark_s"] = stats.median(get_spark_s)
        for q, full in zip(short, names):
            layer[f"plans.{q}.s"] = e2e["per_query_median_s"][full]
        report["jobs_by_query_per_pass"] = {
            q: [t / len(run.passes), a / len(run.passes)] for q, (t, a) in run.jobs_by_query.items()
        }
    attempted, failed = run.attempted, run.failed
    layer["error_rate"] = stats.error_rate(attempted, failed)
    spark.stop()
    return e2e, {"report": report, "layer": layer}, attempted, failed, not run.mismatches


def run_sensor(ctx, args) -> tuple[dict, dict, int, int, bool]:
    from unimib_simpss_spark.streaming import sinks

    work = os.path.join(OUT, "work", f"sensor-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run = sensor.SensorRun(ctx, work)

    def teardown(spark):
        run.stop()
        spark.stop()

    orig = sinks.upsert_keyed_parquet
    if ctx.trace:
        sinks.upsert_keyed_parquet = run.traced_upsert(orig)
    try:
        setup_s, get_spark_s = run_setups(ctx, run.start, teardown)
        spark = ctx.spark
        if ctx.trace:
            ctx.rest = SparkRest(spark)
            j0, s0 = ctx.rest.max_job_id(), ctx.rest.max_stage_id()
        t0 = time.perf_counter()
        run.measure(spark)
        window = time.perf_counter() - t0
        progress = run.progress()
        run.stop()
        table = [r.asDict() for r in sinks.read_keyed_parquet(spark, run.sink).collect()]
        problems = sensor.table_check(table, run.gen.expected)
        e2e = run.summary(progress)
        e2e["setup_s"] = stats.median(setup_s)
        n_mismatch = sum(1 for r in run.read_results if r["ok"] and r["mismatch"])
        (attempted, failed), (ops, failed_ops) = sensor.operation_counts(
            run.n_files - 1, len(run.reads), e2e["reads_failed"], n_mismatch, bool(problems)
        )
        report = {
            "setup_runs_s": setup_s,
            "table_rows": len(table),
            "table_problems": problems,
            "aliases": sensor.ALIASES,
            **e2e,
        }
        layer = {k: e2e[k] for k in sensor.OWN_METRICS}
        layer["error_rate"] = stats.error_rate(ops, failed_ops)
        if ctx.trace:
            tot = engine_totals(ctx.rest, j0, s0)
            layer.update(run.layer_metrics(progress, tot, window, spark.sparkContext.defaultParallelism))
            layer["session.get_spark_s"] = stats.median(get_spark_s)
            run.add_spans(progress)
        spark.stop()
        return e2e, {"report": report, "layer": layer}, attempted, failed, not problems and not n_mismatch
    finally:
        sinks.upsert_keyed_parquet = orig
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Run one perfbench workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--full", action="store_true", help="batch: run every query of the workload's list")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "unimib_simpss_spark")):
        print(f"engine package unimib_simpss_spark not found under {ROOT}", file=sys.stderr)
        return 2
    _setup_env()
    ctx = Ctx(args)
    rss = RssSampler().start()
    load_start = loadavg()
    fn = run_sensor if args.workload == "sensor_ingest" else run_batch
    try:
        with ctx.tracer.span("workload", op=args.workload):
            e2e, extra, attempted, failed, correct = fn(ctx, args)
    finally:
        peak_mb = rss.stop()
        stop_jvm()
    e2e["peak_rss_mb"] = peak_mb
    layer = extra["layer"]
    layer["host.load_1min.start"] = load_start
    layer["host.load_1min.end"] = loadavg()
    layer["trace.spans"] = len(ctx.tracer.spans)

    results = os.path.join(OUT, "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{args.workload}.trace{args.trace}"
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "end_to_end": {k: e2e[k] for k in END_TO_END},
        "error_rate": layer["error_rate"],
        **extra["report"],
    }
    if ctx.trace:
        report["self_time_s"] = ctx.tracer.self_times()
        ctx.tracer.write(os.path.join(results, f"{tag}.seed{args.seed}.spans.jsonl"))
        base = os.path.join(results, f"{args.workload}.trace0.json")
        if os.path.exists(base):
            with open(base) as f:
                untraced = json.load(f)["end_to_end"]
            report["tracing_overhead"] = {k: e2e[k] - untraced[k] for k in END_TO_END}
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    print(json.dumps({"report": report}, default=str))
    units = per_layer_units() if args.trace else END_TO_END
    values = layer if args.trace else e2e
    print(
        json.dumps(
            {
                "correct": bool(correct),
                "attempted": int(attempted),
                "failed": int(failed),
                "metrics": metric_block(values, units),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
