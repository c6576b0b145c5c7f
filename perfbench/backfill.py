"""``backfill`` workload: one pipeline tick into a cold warehouse, then
interactive reads of what it built.

The measured batch lands the seeded history (one file per dataset, a
re-upload of one itinerary day and a malformed timeline document) and
runs ``pipeline.run_pipeline`` -- config -> ingest -> silver on all
seven datasets -> the three gold reports -- timed from the files landing
to the newest day's ``gold.full_travel_cost`` row being returned. Then
rounds of read requests: each round calls the ten dashboard functions
and ``daily_travel_summary`` once, in a fixed order over date ranges of
fixed widths (1 day to the full history) and seeded start dates, and
collects and checks each result. Every round is timed, for ``--seconds``
(at least one): the first round after a tick is what a user opening the
dashboard sees, plan compilation included. One client: this process, no
extra threads.
"""

from __future__ import annotations

import os
import random
import statistics
import time

from landing import CATEGORIES, DATASETS, HISTORY_DAYS, Truth, backfill_files, day, write_files

WIDTHS = (1, 3, 7, 30, HISTORY_DAYS)
EPS = 0.005
MIN_ROUNDS = 1
DASHBOARD = ("visits", "movements", "itinerary", "spending", "flights", "sleep",
             "daily_steps", "spend_by_type_pivot", "top_expenses", "distance_by_mode")
SUMMARY = "daily_travel_summary"


def _in(lo: str, hi: str, per_day: dict) -> dict:
    return {d: v for d, v in per_day.items() if lo <= d <= hi}


def _close(a: float, b: float, n: int = 1) -> bool:
    return abs(a - b) < EPS * max(1, n)


def check_dashboard(truth: Truth, fn: str, lo: str, hi: str, rows) -> bool:
    """Compare one collected dashboard result with the sidecar."""
    if fn == "spending":
        want = [c for d, c in truth.spend_rows if lo <= d <= hi]
        return len(rows) == len(want) and _close(sum(r.amount for r in rows), sum(want) / 100, len(want))
    if fn == "top_expenses":
        want = sorted((c for d, c in truth.spend_rows if lo <= d <= hi), reverse=True)[:5]
        return [round(r.amount * 100) for r in rows] == want
    if fn == "spend_by_type_pivot":
        want: dict[str, int] = {}
        for d, c in truth.spend_rows:
            if lo <= d <= hi:
                want[d] = want.get(d, 0) + c
        got = {str(r["date"]): sum(v for k, v in r.asDict().items() if k != "date") for r in rows}
        return got.keys() == want.keys() and all(_close(got[d], want[d] / 100, 50) for d in want)
    if fn == "itinerary":
        return len(rows) == len({str(r.date) for r in rows}) and \
            {str(r.date): r.city for r in rows} == _in(lo, hi, truth.itinerary)
    if fn in ("visits", "movements", "flights", "sleep"):
        per_day = {"visits": truth.visits, "movements": truth.activities,
                   "flights": truth.flights, "sleep": truth.sleep}[fn]
        return len(rows) == sum(_in(lo, hi, per_day).values())
    if fn == "daily_steps":
        return {str(r.date): r.total_steps for r in rows} == _in(lo, hi, truth.steps)
    if fn == "distance_by_mode":
        want_km: dict[str, float] = {}
        for per in _in(lo, hi, truth.distance).values():
            for mode, metres in per.items():
                want_km[mode] = want_km.get(mode, 0.0) + metres / 1000
        got = {r.activity_type: r.total_km for r in rows}
        return got.keys() == want_km.keys() and all(_close(got[m], want_km[m]) for m in want_km)
    raise ValueError(f"no check for dashboard.{fn}")


def check_summary(truth: Truth, d: str, doc: dict) -> bool:
    """``daily_travel_summary`` totals and row arrays against the sidecar."""
    spent = sum(c for x, c in truth.spend_rows if x == d) / 100
    segments = truth.visits.get(d, 0) + truth.activities.get(d, 0)
    return (_close(doc["total_spent"], spent) and doc["total_steps"] == truth.steps.get(d, 0)
            and len(doc["flights"]) == truth.flights.get(d, 0)
            and len(doc["sleep_data"]) == truth.sleep.get(d, 0)
            and [r["city"] for r in doc["manual_logs"]] == [truth.itinerary[d]]
            and len(doc["timeline_segments"]) == segments)


def _gold_row_ok(truth: Truth, r) -> bool:
    d = str(r.date)
    spend = truth.spend.get(d, {})
    cats = [_close(r[c.lower()], spend.get(c, 0) / 100) for c in CATEGORIES]
    return r.city == truth.itinerary.get(d) and all(cats) and _close(r.total, truth.spend_total(d) / 100)


def gold_report_errors(truth: Truth, rows) -> list[str]:
    """Differences between ``gold.full_travel_cost`` and the sidecar:
    one row per itinerary date, with that date's latest city and spend."""
    errors = [f"wrong row for {r.date}" for r in rows if not _gold_row_ok(truth, r)]
    dates = sorted(str(r.date) for r in rows)
    if dates != sorted(truth.itinerary):
        errors.append(f"dates {dates[:3]}.. != {sorted(truth.itinerary)[:3]}..")
    return errors


def check_warehouse(run, wh, truth: Truth) -> None:
    """Bronze row counts, ledger outcomes and the gold report against
    the sidecar; each comparison counts as one checked operation."""
    from travel_data_ingestion_spark import ingest

    spark = run.spark
    for ds in DATASETS:
        n = wh.read(spark, "bronze", ds).count()
        run.check(n == truth.rows[ds], f"bronze.{ds} rows {n} != {truth.rows[ds]}")
    ledger = ingest.ingestion_ledger(spark, wh).collect()
    ok = {(r.target_table, r.file_name) for r in ledger if r.status == "SUCCESS"}
    want = {(ds, f) for ds in DATASETS for f in truth.files[ds]}
    run.check(ok == want and len(ledger) == len(want),
              f"ingestion ledger: {len(ok)} SUCCESS of {len(ledger)} rows, want {len(want)}")
    errors = gold_report_errors(truth, wh.read(spark, "gold", "full_travel_cost").collect())
    run.check(not errors, f"gold.full_travel_cost: {errors[:5]}")


def _request(run, wh, fn: str, lo: str, hi: str):
    """One read request, collected to the driver."""
    from travel_data_ingestion_spark import dashboard, gold

    if fn == SUMMARY:
        return gold.daily_travel_summary(run.spark, wh, lo)
    with run.tracer.span("dashboard", fn):
        return getattr(dashboard, fn)(run.spark, wh, lo, hi).collect()


def _round(run, wh, truth: Truth, rng: random.Random, latencies: list[float]) -> None:
    """Every read request once over seeded start dates; each result is
    checked and its latency appended. Order and range widths are fixed,
    so that the seed moves only which days are read, not how much work
    a round does."""
    for i, fn in enumerate(DASHBOARD + (SUMMARY,)):
        first = rng.randrange(0, HISTORY_DAYS)
        width = 1 if fn == SUMMARY else WIDTHS[i % len(WIDTHS)]
        lo, hi = day(first), day(min(first + width, HISTORY_DAYS) - 1)
        t = time.perf_counter()
        try:
            got = _request(run, wh, fn, lo, hi)
        except Exception:  # noqa: BLE001 - counted and reported
            run.fail(f"{fn}({lo}, {hi})")
            continue
        latencies.append(time.perf_counter() - t)
        ok = check_summary(truth, lo, got) if fn == SUMMARY else check_dashboard(truth, fn, lo, hi, got)
        run.check(ok, f"{fn}({lo}, {hi})")
    run.tracer.poll_jobs(run.spark)


def run(run, t0: float) -> tuple[str, int]:
    from pyspark.sql import functions as F

    from travel_data_ingestion_spark import pipeline

    spark, tr = run.spark, run.tracer
    land = os.path.join(run.tmp, "landing")
    root = os.path.join(run.tmp, "warehouse")
    truth = Truth()
    files = backfill_files(run.seed, truth)
    with open(os.path.join(run.tmp, "sidecar.json"), "w") as f:
        f.write(truth.to_json())
    run.e2e["setup_s"] = time.perf_counter() - t0

    # the batch: files landed -> newest day's report row returned
    newest = day(HISTORY_DAYS - 1)
    tr.phase = "batch"
    t = time.perf_counter()
    input_bytes = write_files(land, files)
    wh = pipeline.run_pipeline(spark, root, land)
    got = wh.read(spark, "gold", "full_travel_cost").filter(F.col("date") == newest).collect()
    run.e2e["batch_s"] = time.perf_counter() - t
    run.check(len(got) == 1 and _gold_row_ok(truth, got[0]), f"report row for {newest}: {got}")
    tr.poll_jobs(spark)

    # closed loop of read rounds
    rng = random.Random(f"{run.seed}:requests")
    latencies: list[float] = []
    tr.phase = "round"
    deadline = time.perf_counter() + run.seconds
    while tr.rounds < MIN_ROUNDS or time.perf_counter() < deadline:
        _round(run, wh, truth, rng, latencies)
        tr.rounds += 1
    tr.phase = "check"
    run.e2e["request_mean_ms"] = 1000 * statistics.fmean(latencies) if latencies else 0.0

    check_warehouse(run, wh, truth)
    return root, input_bytes
