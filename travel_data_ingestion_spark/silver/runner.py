"""Incremental silver runner: ledger-driven batch selection + idempotent
writes + transformation logging (reference transformation_logic.py:12-56
and the per-dataset boilerplate in scripts/transformations/*.py).

Batch selection and logging run on the driver, with no Spark job: bronze
load ids come from the ``load_id=N`` partition directories, the done set
and the id allocation (MAX(transformation_id)+1, single driver) from the
``ledger`` module. Write-ahead order: a RUNNING row is committed before
the transform runs; after the silver writes, all of the dataset's SUCCESS
rows (one per load id) land in ONE ledger append, or one FAILURE row on
error. Each append is a temp file + atomic rename, so a crash leaves
either the whole append or nothing.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from travel_data_ingestion_spark import ledger
from travel_data_ingestion_spark.catalog import Warehouse
from travel_data_ingestion_spark.silver import transforms

# dataset name -> (bronze table, transform fn)
SILVER_TRANSFORMS: dict[str, tuple[str, Callable[[DataFrame], dict[str, DataFrame]]]] = {
    "transactions": ("transactions", transforms.transactions),
    "manual_logs": ("manual_logs", transforms.manual_logs),
    "flight_logs": ("flight_logs", transforms.flight_logs),
    "fitbit_steps": ("fitbit_steps", transforms.fitbit_steps),
    "fitbit_sleep": ("fitbit_sleep_score", transforms.fitbit_sleep),
    "fitbit_heart_rate": ("fitbit_heart_rate", transforms.fitbit_heart_rate),
    "google_timeline": ("google_timeline", transforms.google_timeline),
}


def _log_rows(
    wh: Warehouse,
    trans_id: int,
    name: str,
    load_ids: list[int],
    status: str,
    rows: int | None = None,
    error: str | None = None,
) -> None:
    """One ledger append holding a row per load id."""
    now = datetime.now(timezone.utc)
    ledger.append(
        wh,
        "transformation_logs",
        [
            {
                "transformation_id": trans_id,
                "transformation_name": name,
                "load_id": i,
                "status": status,
                "rows_written": rows,
                "error_message": error,
                "event_time": now,
            }
            for i in load_ids
        ],
    )


def bronze_load_ids(wh: Warehouse, bronze_table: str) -> list[int]:
    """Bronze load ids from the ``load_id=N`` partition directories
    (bronze is always written partitioned by load_id). A directory
    counts only if it holds a visible data file — the same rule as
    Spark's partition discovery."""
    path = wh.path("bronze", bronze_table)
    if not os.path.isdir(path):
        return []
    ids = []
    for entry in os.scandir(path):
        if entry.is_dir() and entry.name.startswith("load_id="):
            if any(not f.startswith((".", "_")) for f in os.listdir(entry.path)):
                ids.append(int(entry.name.split("=", 1)[1]))
    return sorted(ids)


def pending_load_ids(
    spark: SparkSession, wh: Warehouse, dataset: str, bronze_table: str
) -> list[int]:
    """New-work detection: bronze load ids minus the SUCCESS ledger
    rows' load ids (reference transactions.py:14-23, C-05). Runs on the
    driver; ``spark`` is unused and kept for the stable signature."""
    done = {
        r["load_id"]
        for r in ledger.rows(wh, "transformation_logs")
        if r["transformation_name"] == dataset and r["status"] == "SUCCESS"
    }
    return [i for i in bronze_load_ids(wh, bronze_table) if i not in done]


def run_silver(
    spark: SparkSession,
    wh: Warehouse,
    datasets: list[str] | None = None,
    load_id: int | None = None,
    reprocess: bool = False,
) -> dict[str, int]:
    """Run silver transforms for all (or selected) datasets.

    ``load_id`` pins one batch; ``reprocess`` bypasses the ledger filter
    (reference transformation_logic.py:33-38, K-02). All pending batches
    of a dataset are processed in ONE DataFrame pass; the written rows
    keep their load_id so the idempotent sink overwrites exactly the
    affected partitions.
    """
    results: dict[str, int] = {}
    failures: dict[str, str] = {}
    for name in datasets or list(SILVER_TRANSFORMS):
        bronze_table, fn = SILVER_TRANSFORMS[name]
        if load_id is not None:
            ids = [load_id]
        elif reprocess:
            ids = bronze_load_ids(wh, bronze_table)
        else:
            ids = pending_load_ids(spark, wh, name, bronze_table)
        if not ids:
            continue
        batch = wh.read(spark, "bronze", bronze_table).filter(F.col("load_id").isin(ids))
        trans_id = ledger.next_id(wh, "transformation_logs", "transformation_id")
        _log_rows(wh, trans_id, name, [max(ids)], "RUNNING")
        try:
            outputs = fn(batch)
            total = 0
            for table, df in outputs.items():
                wh.write_idempotent(spark, df, "silver", table)
                total += spark.read.parquet(wh.path("silver", table)).filter(
                    F.col("load_id").isin(ids)
                ).count()
            # one SUCCESS row per processed batch, all in one append: the
            # ledger is the exactly-once contract consumed by
            # pending_load_ids
            _log_rows(wh, trans_id, name, ids, "SUCCESS", rows=total)
            results[name] = total
        except Exception as exc:  # noqa: BLE001 - per-dataset isolation
            _log_rows(wh, trans_id, name, [max(ids)], "FAILURE", error=str(exc)[:2000])
            failures[name] = str(exc)[:500]
    if failures:
        # true per-dataset isolation (each reference transform is its own
        # Airflow task): every healthy dataset was processed and logged
        # before the run as a whole reports failure.
        raise RuntimeError(
            f"run_silver: {len(failures)} dataset(s) failed after processing "
            f"{len(results)} successfully: {failures}"
        )
    return results
