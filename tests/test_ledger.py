"""Driver-side ADMIN ledger: an idle tick runs no Spark job, files from
the Spark writer and the driver writer read the same through both
readers, a crashed append leaves nothing visible, and a driver append is
seen by the next Spark read."""

from __future__ import annotations

import os
import time
from datetime import datetime, timedelta, timezone

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from tests.fixtures_gen import generate_landing
from travel_data_ingestion_spark import ledger
from travel_data_ingestion_spark.catalog import ADMIN_SCHEMAS, Warehouse
from travel_data_ingestion_spark.config import default_config, load_config, save_config
from travel_data_ingestion_spark.ingest import _successful_files, ingest_all, ingestion_ledger
from travel_data_ingestion_spark.silver import run_silver
from travel_data_ingestion_spark.silver.runner import bronze_load_ids, pending_load_ids

_LOG_COLS = [f.name for f in ADMIN_SCHEMAS["ingestion_logs"].fields]


def _spark_append(spark, wh, rows):
    """The ledger writer this module replaced: a Spark append."""
    df = spark.createDataFrame(
        [tuple(r.get(c) for c in _LOG_COLS) for r in rows], ADMIN_SCHEMAS["ingestion_logs"]
    )
    wh.append(spark, df, "admin", "ingestion_logs")


def _log_row(load_id, file_name, status, event_time, rows_loaded=None):
    return {
        "load_id": load_id,
        "file_id": 1,
        "file_name": file_name,
        "target_table": "transactions",
        "status": status,
        "rows_loaded": rows_loaded,
        "event_time": event_time,
    }


def _spark_rows(spark, wh):
    """Raw ledger through Spark, event_time as epoch micros."""
    df = wh.read(spark, "admin", "ingestion_logs")
    df = df.withColumn("event_time", F.unix_micros("event_time"))
    return sorted(tuple(r) for r in df.collect())


def _driver_rows(wh):
    out = []
    for r in ledger.rows(wh, "ingestion_logs"):
        r = dict(r)
        t = r["event_time"] - datetime(1970, 1, 1, tzinfo=timezone.utc)
        r["event_time"] = t // timedelta(microseconds=1)
        out.append(tuple(r[c] for c in _LOG_COLS))
    return sorted(out)


def _jobs_in_group(sc, group, run):
    """Spark jobs started by ``run()`` under ``group``. A control job runs
    after it in its own group: once the status store shows the control,
    every earlier job is visible too (listener events are ordered), so
    a zero count cannot be an event still in flight."""
    def in_group(g, fn):
        sc.setJobGroup(g, g)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    control = group + "-control"
    in_group(group, run)
    in_group(control, lambda: sc.parallelize([0], 1).count())
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(control):
        assert time.monotonic() < deadline, "control job never reached the status store"
        time.sleep(0.05)
    return len(tracker.getJobIdsForGroup(group))


def test_idle_tick_runs_no_spark_job(spark, tmp_path):
    landing = str(tmp_path / "landing")
    generate_landing(landing, days=3)
    wh = Warehouse(str(tmp_path / "wh"))
    wh.init()
    full = default_config(landing)
    cfg = {k: full[k] for k in ("transactions", "manual_logs")}
    save_config(spark, wh, cfg)
    assert load_config(spark, wh) == cfg
    first = ingest_all(spark, wh, cfg)
    assert all(len(ids) == 1 for ids in first.values())
    assert set(run_silver(spark, wh)) == {"transactions", "manual_logs"}

    # load ids from the partition listing equal Spark's DISTINCT load_id
    spark_ids = sorted(
        r.load_id
        for r in wh.read(spark, "bronze", "transactions").select("load_id").distinct().collect()
    )
    assert bronze_load_ids(wh, "transactions") == spark_ids == first["transactions"]
    assert pending_load_ids(spark, wh, "transactions", "transactions") == []

    results = {}

    def idle_tick():
        save_config(spark, wh, cfg)  # unchanged config: no rewrite
        results["ingest"] = ingest_all(spark, wh, load_config(spark, wh))
        results["silver"] = run_silver(spark, wh)

    assert _jobs_in_group(spark.sparkContext, "idle-tick", idle_tick) == 0
    assert results == {"ingest": {"transactions": [], "manual_logs": []}, "silver": {}}


def test_silver_logs_one_success_append_per_dataset(spark, tmp_path):
    landing = str(tmp_path / "landing")
    generate_landing(landing, days=3)
    # a second transactions file: two pending loads for one dataset
    with open(os.path.join(landing, "transactions_2026_03.csv"), "w") as f:
        f.write("country,date,name,type,amount,comments\nJapan,2026-03-01,m,Hotel,4.00,x\n")
    wh = Warehouse(str(tmp_path / "wh"))
    wh.init()
    cfg = {"transactions": default_config(landing)["transactions"]}
    loads = ingest_all(spark, wh, cfg)["transactions"]
    assert len(loads) == 2
    run_silver(spark, wh, datasets=["transactions"])

    log_dir = wh.path("admin", "transformation_logs")
    files = [f for f in os.listdir(log_dir) if f.endswith(".parquet")]
    assert len(files) == 2  # RUNNING, then every SUCCESS row in one file
    rows = ledger.rows(wh, "transformation_logs")
    assert sorted(r["load_id"] for r in rows if r["status"] == "SUCCESS") == sorted(loads)
    assert [r["load_id"] for r in rows if r["status"] == "RUNNING"] == [max(loads)]
    assert len({r["transformation_id"] for r in rows}) == 1
    # reprocess takes its ids from the same partition listing
    assert run_silver(spark, wh, datasets=["transactions"], reprocess=True)
    assert {r["transformation_id"] for r in ledger.rows(wh, "transformation_logs")} == {1, 2}


def test_mixed_spark_and_driver_ledger_files_read_identically(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    wh.init()
    t0 = datetime(2026, 2, 1, 8, 30, 15, 123456, tzinfo=timezone.utc)
    # load 1: Spark-written RUNNING, driver-written SUCCESS later
    _spark_append(spark, wh, [_log_row(1, "a.csv", "RUNNING", t0)])
    # load 2: driver-written RUNNING, Spark-written SUCCESS later
    ledger.append(wh, "ingestion_logs", [_log_row(2, "b.csv", "RUNNING", t0)])
    _spark_append(spark, wh, [_log_row(2, "b.csv", "SUCCESS", t0 + timedelta(seconds=1), 7)])
    ledger.append(
        wh, "ingestion_logs", [_log_row(1, "a.csv", "SUCCESS", t0 + timedelta(seconds=2), 3)]
    )

    # both writers are really present: INT96 from Spark, INT64 micros here
    log_dir = wh.path("admin", "ingestion_logs")
    physical = set()
    for f in os.listdir(log_dir):
        if f.endswith(".parquet") and not f.startswith((".", "_")):
            meta = pq.ParquetFile(os.path.join(log_dir, f)).schema
            physical.add(meta.column(_LOG_COLS.index("event_time")).physical_type)
    assert physical == {"INT96", "INT64"}

    spark_rows = _spark_rows(spark, wh)
    assert spark_rows == _driver_rows(wh)
    assert len(spark_rows) == 4
    micros = (t0 - datetime(1970, 1, 1, tzinfo=timezone.utc)) // timedelta(microseconds=1)
    assert min(r[-1] for r in spark_rows) == micros  # exact to the microsecond

    # latest row wins across writers, in both readers
    collapsed = {r.file_name: (r.status, r.rows_loaded) for r in ingestion_ledger(spark, wh).collect()}
    assert collapsed == {"a.csv": ("SUCCESS", 3), "b.csv": ("SUCCESS", 7)}
    assert _successful_files(wh, "transactions") == {"a.csv", "b.csv"}


def test_leftover_temp_file_is_invisible(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    wh.init()
    log_dir = wh.path("admin", "ingestion_logs")
    os.makedirs(log_dir)
    now = datetime.now(timezone.utc)
    # a crash after the temp write, before the rename: a complete file
    # under the temp name, plus a torn one
    ledger.append(wh, "ingestion_logs", [_log_row(9, "crashed.csv", "RUNNING", now)])
    (committed,) = os.listdir(log_dir)
    os.replace(os.path.join(log_dir, committed), os.path.join(log_dir, f".{committed}.tmp"))
    with open(os.path.join(log_dir, ".part-torn.parquet.tmp"), "wb") as f:
        f.write(b"PAR1\x00\x01")

    assert not wh.exists("admin", "ingestion_logs")
    assert ledger.rows(wh, "ingestion_logs") == []
    assert wh.read(spark, "admin", "ingestion_logs").count() == 0

    ledger.append(wh, "ingestion_logs", [_log_row(1, "ok.csv", "SUCCESS", now, 1)])
    assert [r["file_name"] for r in ledger.rows(wh, "ingestion_logs")] == ["ok.csv"]
    assert [r.file_name for r in wh.read(spark, "admin", "ingestion_logs").collect()] == ["ok.csv"]


def test_driver_append_seen_by_next_spark_read(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    wh.init()
    now = datetime.now(timezone.utc)
    _spark_append(spark, wh, [_log_row(1, "a.csv", "SUCCESS", now, 1)])
    assert wh.read(spark, "admin", "ingestion_logs").count() == 1
    ledger.append(wh, "ingestion_logs", [_log_row(2, "b.csv", "SUCCESS", now, 2)])
    names = {r.file_name for r in wh.read(spark, "admin", "ingestion_logs").collect()}
    assert names == {"a.csv", "b.csv"}


def test_save_config_rewrites_only_on_change(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    wh.init()
    cfg = default_config(str(tmp_path / "landing"))
    save_config(spark, wh, cfg)
    cfg_dir = wh.path("admin", "file_details")
    before = sorted(os.listdir(cfg_dir))
    save_config(spark, wh, cfg)
    assert sorted(os.listdir(cfg_dir)) == before
    assert load_config(spark, wh) == cfg

    changed = default_config(str(tmp_path / "elsewhere"))
    save_config(spark, wh, changed)
    assert sorted(os.listdir(cfg_dir)) != before
    assert load_config(spark, wh) == changed
    # Spark consumers see the same table
    assert {r.source_path for r in wh.read(spark, "admin", "file_details").collect()} == {
        str(tmp_path / "elsewhere")
    }
