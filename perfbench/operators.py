"""``operators`` workload: sweeps of the nine headline member queries.

Set-up generates the seeded operator tables at TPC-H scale factor 0.1
(600k lineitems) and runs one warm-up sweep, which fills the engine's
scan memo and compiles codegen; each warm-up result is compared with
the query's DuckDB ``QuerySpec.oracle`` and its checksum becomes the
reference. The measured part repeats sweeps for ``--seconds`` (at least
one). Every query of every sweep is materialised by collecting all its
rows to the driver -- every output column of every row is computed and
transferred -- and the checksum of the collected result must equal the
reference. One client: this process, no extra
threads.
"""

from __future__ import annotations

import hashlib
import math
import os
import statistics
import time

QUERIES = ("q01_pricing_summary", "q03_top_revenue_orders", "q05_region_nation_revenue",
           "d06_pivot_sum_case", "e02_dedup_row_number", "j02_sessionization",
           "dd01_exact_dedup", "t02_quality_score", "sim01_knn_bruteforce")
LINEITEMS = 600_000  # TPC-H sf0.1
MIN_SWEEPS = 1


def _canon(v):
    if v is None:
        return "\x00null"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(round(v, 9))
    return str(v)


def _frame(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], sorted(tuple(_canon(r[i]) for i in order) for r in rows)


def materialise(spark, spec, sf_dir: str):
    """Run one query, collect it, return its canonical frame: column
    names plus rows as an order-insensitive multiset of canonical values."""
    df = spec.fn(spark, sf_dir)
    return _frame(df.columns, [list(r) for r in df.collect()])


def checksum(frame) -> str:
    return hashlib.sha256(repr(frame).encode()).hexdigest()


def oracle_frame(ddb, spec):
    res = ddb.execute(spec.oracle)
    return _frame([d[0] for d in res.description], res.fetchall())


def run(run, t0: float) -> tuple[None, int]:
    import duckdb

    from tables import generate
    from travel_data_ingestion_spark.queries import member_queries

    spark, tr = run.spark, run.tracer
    sf_dir = os.path.join(run.tmp, "tables")
    generate(sf_dir, run.seed, LINEITEMS)
    input_bytes = sum(os.path.getsize(os.path.join(sf_dir, f)) for f in os.listdir(sf_dir))
    registry = member_queries()
    specs = {}
    for q in QUERIES:
        if q in registry:
            specs[q] = registry[q]
        else:
            tr.missing.append(f"queries.{q}")
            run.check(False, f"query {q} is not in the registry")

    # set-up: the warm-up sweep, each result checked against its oracle
    reference = {}
    ddb = duckdb.connect()
    try:
        for name in os.listdir(sf_dir):
            table = name.removesuffix(".parquet")
            ddb.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, name)}')")
        for q, spec in specs.items():
            frame = materialise(spark, spec, sf_dir)
            reference[q] = checksum(frame)
            if spec.oracle is not None:
                run.check(frame == oracle_frame(ddb, spec), f"{q} differs from its oracle")
    finally:
        ddb.close()
    run.e2e["setup_s"] = time.perf_counter() - t0

    sweeps, latencies = [], []
    tr.phase = "round"
    deadline = time.perf_counter() + run.seconds
    while time.perf_counter() < deadline or len(sweeps) < MIN_SWEEPS:
        ts = time.perf_counter()
        for q, spec in specs.items():
            t = time.perf_counter()
            try:
                with tr.span("queries", q):
                    got = checksum(materialise(spark, spec, sf_dir))
            except Exception:  # noqa: BLE001 - counted and reported
                run.fail(f"query {q}")
                continue
            latencies.append(time.perf_counter() - t)
            run.check(got == reference[q], f"{q} checksum {got} != {reference[q]}")
        sweeps.append(time.perf_counter() - ts)
        tr.rounds += 1
        tr.poll_jobs(spark)
    run.e2e["batch_s"] = statistics.median(sweeps)
    run.e2e["request_mean_ms"] = 1000 * statistics.fmean(latencies)
    return None, input_bytes
