#!/usr/bin/env python3
"""Pipeline benchmark entry point.

    python3 perfbench/run.py --workload backfill|operators --seed N \
        --seconds S --trace 0|1

Run from the repository root. Builds its inputs from ``--seed`` inside a
per-run directory under ``.perfbench_tmp/`` (deleted afterwards), drives
the engine's public functions from outside, checks every output, and
prints one JSON object as the last line of standard output. With
``--trace 0`` it reports the end-to-end metrics; with ``--trace 1`` it
wraps each layer's public functions and reports the per-layer metrics
instead. See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

from backfill import DASHBOARD  # noqa: E402
from operators import QUERIES  # noqa: E402
from spans import Tracer  # noqa: E402

WORKLOADS = ("backfill", "operators")
SILVER_DATASETS = ("transactions", "manual_logs", "flight_logs", "fitbit_steps",
                   "fitbit_sleep", "fitbit_heart_rate", "google_timeline")
GOLD_REPORTS = ("full_travel_cost", "travel_tax_report", "transport_mode")
MEDALLION = ("admin", "bronze", "silver", "gold")


class Run:
    """State of one benchmark run, passed to the workload."""

    def __init__(self, seed: int, seconds: float, trace: bool, tmp: str):
        self.seed = seed
        self.seconds = seconds
        self.tmp = tmp
        self.tracer = Tracer(trace)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}

    def check(self, ok: bool, what: str) -> bool:
        """Count one checked operation; report a wrong result on stderr."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: WRONG RESULT: {what}", file=sys.stderr)
        return ok

    def fail(self, what: str) -> None:
        """Count one operation that raised."""
        self.attempted += 1
        self.failed += 1
        print(f"perfbench: FAILED: {what}\n{traceback.format_exc()}", file=sys.stderr)


def _host_memory_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_environment(tmp: str) -> None:
    """Session settings fixed from outside (no plan-changing conf)."""
    for var in ("SPARK_MASTER", "SPARK_EXECUTOR_MEMORY", "SPARK_GRAFT_KEEP_ANSI",
                "SPARK_EXPORT_PYTHONPATH", "SPARK_UI", "SPARK_CONF_DIR"):
        os.environ.pop(var, None)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # the session default (48g) exceeds small hosts; an eighth of RAM,
    # clamped to [1g, 4g], leaves room for the machine's other tenants
    mem = min(max(_host_memory_mb() // 8, 1024), 4096)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{mem}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["SPARK_CHECKPOINT_DIR"] = os.path.join(tmp, "checkpoint")
    os.environ["TMPDIR"] = tmp
    # no hsperfdata file under /tmp: the run writes only inside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def import_engine():
    """Import the engine from this checkout; exit 2 when it is absent."""
    try:
        import travel_data_ingestion_spark as engine
    except ImportError as exc:
        print(f"perfbench: engine package not importable: {exc}", file=sys.stderr)
        sys.exit(2)
    if not os.path.abspath(engine.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: engine imported from outside the checkout: {engine.__file__}",
              file=sys.stderr)
        sys.exit(2)
    return engine


def start_session(run: Run):
    """SparkSession start plus its first job (the session's spin-up)."""
    from travel_data_ingestion_spark import session

    with run.tracer.span("session", "start"):
        t0 = time.perf_counter()
        spark = session.get_spark(
            app_name="perfbench",
            warehouse_dir=os.path.join(run.tmp, "spark-warehouse"),
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        spark.range(1).collect()
        start_s = time.perf_counter() - t0
    run.spark = spark
    run.tracer.attach(spark.sparkContext)
    run.layer["session.start_s"] = start_s
    return spark


def instrument(tracer: Tracer) -> None:
    """Wrap the layers' public functions at the import sites the
    workloads call through: ``pipeline`` for the stages of a tick, the
    layer modules for what those stages call in turn. Dashboard and query
    calls are spanned at the workloads' own call sites, because their
    results are lazy."""
    from travel_data_ingestion_spark import catalog, gold, ingest, pipeline
    from travel_data_ingestion_spark.silver import runner

    for fn in ("save_config", "load_config"):
        tracer.wrap(pipeline, fn, "config")
    tracer.wrap(pipeline, "ingest_all", "ingest")
    for fn in ("ingest_dataset", "ingest_file"):
        tracer.wrap(ingest, fn, "ingest")
    tracer.wrap(pipeline, "run_silver", "silver")
    tracer.wrap(runner, "pending_load_ids", "silver", name=lambda a, k: f"pending:{a[2]}")
    tracer.wrap(gold, "build_full_travel_cost", "gold", "full_travel_cost")
    tracer.wrap(gold, "build_travel_tax_report", "gold", "travel_tax_report")
    tracer.wrap(gold, "build_transport_mode_analysis", "gold", "transport_mode")
    tracer.wrap(gold, "daily_travel_summary", "gold", "daily_summary")
    for fn in ("read", "append", "overwrite", "write_idempotent"):
        tracer.wrap(catalog.Warehouse, fn, "catalog")


def _p50(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def layer_metrics(run: Run, warehouse_root: str | None, input_bytes: int) -> dict[str, float]:
    """Every declared per-layer metric, for one batch plus one timed
    round (see spans.py); 0 for a layer the workload does not reach."""
    tr = run.tracer
    out = tr.layer_metrics()

    def timed(layer, name):
        return [s.end - s.start for s in tr.spans_of(layer, name) if s.phase == "round"]

    out["session.start_s"] = run.layer.get("session.start_s", 0.0)
    # ingest
    files = tr.spans_of("ingest", "ingest_file")
    out["ingest.files"] = len(files)
    out["ingest.rows"] = sum(s.result or 0 for s in files if not s.failed)
    out["ingest.jobs_per_file"] = (
        tr.jobs_under(tr.spans_of("ingest", "ingest_dataset")) / len(files) if files else 0.0)
    # silver: a dataset's time runs from its pending-load check to the next one
    per_ds = {d: 0.0 for d in SILVER_DATASETS}
    for rs in tr.spans_of("silver", "run_silver"):
        marks = sorted((c for c in rs.children if c.name.startswith("pending:")), key=lambda c: c.start)
        for i, m in enumerate(marks):
            end = marks[i + 1].start if i + 1 < len(marks) else rs.end
            ds = m.name.split(":", 1)[1]
            per_ds[ds] = per_ds.get(ds, 0.0) + (end - m.start)
    for ds in SILVER_DATASETS:
        out[f"silver.{ds}.s"] = per_ds[ds]
    out["silver.rows_written"] = sum(
        sum((s.result or {}).values()) for s in tr.spans_of("silver", "run_silver") if not s.failed)
    # gold
    for rep in GOLD_REPORTS:
        out[f"gold.{rep}.s"] = sum(s.end - s.start for s in tr.spans_of("gold", rep))
    out["gold.daily_summary.ms"] = 1000 * _p50(timed("gold", "daily_summary"))
    # dashboard / queries: medians over the timed rounds
    for fn in DASHBOARD:
        out[f"dashboard.{fn}.p50_ms"] = 1000 * _p50(timed("dashboard", fn))
    for q in QUERIES:
        out[f"queries.{q}.s"] = _p50(timed("queries", q))
    # catalog: what the warehouse holds at the end of the run
    total = 0
    for schema in MEDALLION:
        n = b = 0
        root = os.path.join(warehouse_root, schema) if warehouse_root else None
        if root and os.path.isdir(root):
            for dirpath, _, names in os.walk(root):
                for f in names:
                    if f.endswith(".parquet"):
                        n += 1
                        b += os.path.getsize(os.path.join(dirpath, f))
        out[f"catalog.files.{schema}"] = n
        out[f"catalog.bytes.{schema}"] = b
        total += b
    ledger = 0
    if warehouse_root:
        for t in ("ingestion_logs", "transformation_logs"):
            for _, _, names in os.walk(os.path.join(warehouse_root, "admin", t)):
                ledger += sum(1 for f in names if f.endswith(".parquet"))
    out["catalog.ledger_files"] = ledger
    out["catalog.bytes_per_input_byte"] = total / input_bytes if input_bytes else 0.0
    out["trace.overhead_s"] = tr.overhead_s
    out["trace.batch_s"] = run.e2e.get("batch_s", 0.0)
    out["trace.missing_targets"] = len(tr.missing)
    return out


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - fall back to killing the JVM
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import_engine()
    tmp = os.path.join(os.getcwd(), ".perfbench_tmp", f"run-{os.getpid()}")
    os.makedirs(tmp)
    pin_environment(tmp)
    run = Run(args.seed, args.seconds, bool(args.trace), tmp)
    try:
        if args.workload == "backfill":
            import backfill as workload
        else:
            import operators as workload
        instrument(run.tracer)
        t0 = time.perf_counter()
        start_session(run)
        run.tracer.phase = "setup"
        warehouse_root, input_bytes = workload.run(run, t0)
        run.e2e["peak_rss_mb"] = peak_rss_mb(run.spark)
        metrics = run.e2e
        if args.trace:
            run.tracer.poll_jobs(run.spark)
            metrics = layer_metrics(run, warehouse_root, input_bytes)
            for label in run.tracer.missing:
                print(f"perfbench: trace target missing: {label}", file=sys.stderr)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        declared = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
        if set(metrics) != set(declared):
            raise RuntimeError("metrics differ from BENCHMARK.json: "
                               f"{sorted(set(metrics) ^ set(declared))}")
        result = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in declared.items()},
        }
    finally:
        if run.spark is not None:
            stop_session(run.spark)
        shutil.rmtree(tmp, ignore_errors=True)
        parent = os.path.dirname(tmp)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
