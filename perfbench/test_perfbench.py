"""Self-tests of the benchmark itself: input determinism, the output
checkers, metric declarations, and a tiny-size run of each workload.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest
from pyspark.sql import Row

import backfill
import run as bench
import tables
from landing import CATEGORIES, DATASETS, Truth, backfill_files
from spans import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DECLARED = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _digest(dirpath: str) -> dict[str, str]:
    return {f: hashlib.sha256(open(os.path.join(dirpath, f), "rb").read()).hexdigest()
            for f in sorted(os.listdir(dirpath))}


def test_landing_files_are_deterministic_per_seed():
    runs = []
    for seed in (5, 5, 6):
        truth = Truth()
        runs.append((backfill_files(seed, truth, days=10), truth.to_json()))
    assert runs[0] == runs[1]
    assert runs[0][0] != runs[2][0]
    files, _ = runs[0]
    assert set(files) >= {f"{d}_history.{'json' if d == 'google_timeline' else 'csv'}" for d in DATASETS}
    assert "manual_logs_reupload.csv" in files and "google_timeline_corrupt.json" in files


def test_landing_files_carry_the_dirty_values():
    truth = Truth()
    files = backfill_files(1, truth, days=10)
    tx = files["transactions_history.csv"].decode()
    assert '"$' in tx and "2026-13-45" in tx and " food " in tx
    with pytest.raises(json.JSONDecodeError):
        json.loads(files["google_timeline_corrupt.json"])
    assert truth.rows["manual_logs"] == 11  # ten days plus the re-upload
    assert sum(truth.steps.values()) > 0 and truth.spend


def test_operator_tables_are_deterministic_per_seed(tmp_path):
    for name, seed in (("a", 3), ("b", 3), ("c", 4)):
        tables.generate(str(tmp_path / name), seed, 2000)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")


def _truth():
    truth = Truth()
    backfill_files(9, truth, days=6)
    return truth


def _gold_rows(truth):
    rows = []
    for d, city in sorted(truth.itinerary.items()):
        spend = {c.lower(): truth.spend.get(d, {}).get(c, 0) / 100 for c in CATEGORIES}
        rows.append(Row(date=d, city=city, total=truth.spend_total(d) / 100, **spend))
    return rows


def test_checker_flags_a_corrupted_gold_table():
    truth = _truth()
    rows = _gold_rows(truth)
    assert backfill.gold_report_errors(truth, rows) == []
    wrong_amount = rows[:1] + [Row(**{**rows[1].asDict(), "food": rows[1].food + 1})] + rows[2:]
    assert backfill.gold_report_errors(truth, wrong_amount)
    stale_city = [Row(**{**rows[0].asDict(), "city": "Nowhere"})] + rows[1:]
    assert backfill.gold_report_errors(truth, stale_city)
    assert backfill.gold_report_errors(truth, rows[:-1] + rows[:1])  # a day lost, one doubled


def test_checker_flags_a_corrupted_dashboard_result():
    truth = _truth()
    lo, hi = "2026-03-02", "2026-03-04"
    spends = sorted((c for d, c in truth.spend_rows if lo <= d <= hi), reverse=True)
    top = [Row(amount=c / 100) for c in spends[:5]]
    assert backfill.check_dashboard(truth, "top_expenses", lo, hi, top)
    assert not backfill.check_dashboard(truth, "top_expenses", lo, hi, top[1:] + top[:1])
    itin = [Row(date=d, city=c) for d, c in sorted(truth.itinerary.items()) if lo <= d <= hi]
    assert backfill.check_dashboard(truth, "itinerary", lo, hi, itin)
    assert not backfill.check_dashboard(truth, "itinerary", lo, hi, itin[:-1])
    spending = [Row(amount=c / 100) for d, c in truth.spend_rows if lo <= d <= hi]
    assert backfill.check_dashboard(truth, "spending", lo, hi, spending)
    assert not backfill.check_dashboard(truth, "spending", lo, hi, spending + spending[:1])
    steps = [Row(date=d, total_steps=n) for d, n in sorted(truth.steps.items()) if lo <= d <= hi]
    assert backfill.check_dashboard(truth, "daily_steps", lo, hi, steps)
    assert not backfill.check_dashboard(truth, "daily_steps", lo, hi,
                                        steps[:1] + [Row(date=steps[1].date, total_steps=0)] + steps[2:])
    visits = [Row(lat=0.0)] * sum(n for d, n in truth.visits.items() if lo <= d <= hi)
    assert backfill.check_dashboard(truth, "visits", lo, hi, visits)
    assert not backfill.check_dashboard(truth, "visits", lo, hi, visits[1:])


def test_checker_flags_a_corrupted_daily_summary():
    truth = _truth()
    d = "2026-03-03"
    doc = {"total_spent": sum(c for x, c in truth.spend_rows if x == d) / 100,
           "total_steps": truth.steps[d], "flights": [{}] * truth.flights.get(d, 0),
           "sleep_data": [{}], "manual_logs": [{"city": truth.itinerary[d]}],
           "timeline_segments": [{}] * (truth.visits[d] + truth.activities[d])}
    assert backfill.check_summary(truth, d, doc)
    assert not backfill.check_summary(truth, d, {**doc, "total_steps": doc["total_steps"] + 1})
    assert not backfill.check_summary(truth, d, {**doc, "total_spent": doc["total_spent"] + 0.5})


def test_layer_metrics_are_all_declared():
    run = bench.Run(seed=0, seconds=1, trace=True, tmp="")
    names = set(bench.layer_metrics(run, None, 0))
    declared = {m["name"] for m in DECLARED["per_layer"]}
    assert names == declared


def test_span_self_time_excludes_children():
    tr = Tracer(enabled=True)
    with tr.span("gold", "outer"):
        with tr.span("catalog", "read"):
            pass
    metrics = tr.layer_metrics()
    outer, inner = tr.spans
    assert metrics["gold.self_s"] == pytest.approx((outer.end - outer.start) - (inner.end - inner.start))
    assert metrics["gold.calls"] == 1 and metrics["catalog.calls"] == 1


def test_layer_figures_are_per_round():
    tr = Tracer(enabled=True)
    tr.phase = "batch"
    with tr.span("ingest", "ingest_file"):
        pass
    tr.phase = "warmup"
    with tr.span("dashboard", "visits"):
        pass
    tr.phase = "round"
    for tr.rounds in range(3):
        with tr.span("dashboard", "visits"):
            with tr.span("catalog", "read"):
                pass
    tr.rounds = 3
    metrics = tr.layer_metrics()
    assert metrics["ingest.calls"] == 1
    assert metrics["dashboard.calls"] == pytest.approx(1) and metrics["catalog.calls"] == pytest.approx(1)


def _tiny_run(workload: str, trace: int, cwd: str, patch: str) -> dict:
    code = (f"import sys; sys.path.insert(0, {HERE!r}); {patch}; import run; "
            f"sys.exit(run.main(['--workload', {workload!r}, '--seed', '1', '--seconds', '1', "
            f"'--trace', '{trace}']))")
    p = subprocess.run([sys.executable, "-c", code], cwd=cwd, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    return result


@pytest.mark.parametrize("workload,trace,patch", [
    ("backfill", 1, "import landing; landing.HR_STEP_S = 3600; landing.TX_PER_DAY = 5"),
    ("operators", 0, "import operators; operators.LINEITEMS = 2000"),
])
def test_tiny_run_prints_every_declared_metric(workload, trace, patch):
    result = _tiny_run(workload, trace, ROOT, patch)
    kind = "per_layer" if trace else "end_to_end"
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert set(result["metrics"]) == {m["name"] for m in DECLARED[kind]}
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_tmp"))


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "backfill", "--seed", "1",
                        "--seconds", "1", "--trace", "0"], cwd=tmp_path, capture_output=True,
                       text=True, timeout=180)
    assert p.returncode != 0 and p.stdout.strip() == ""
