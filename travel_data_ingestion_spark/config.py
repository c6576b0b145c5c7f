"""Metadata-driven ingestion config (ADMIN.FILE_DETAILS analog).

The reference drives its whole ingestion layer from a config table keyed
by lower-cased target table (reference ingestion_logic.py:5-25
load_config; sql/admin_file_details.sql:1-9). Same model here: config
rows live in ``admin.file_details`` and are loaded into a dict. The
table is read on the driver (``ledger`` module) and rewritten by Spark
only when the config actually changes.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import asdict, dataclass

from pyspark.sql import SparkSession

from travel_data_ingestion_spark import ledger
from travel_data_ingestion_spark.catalog import ADMIN_SCHEMAS, Warehouse


@dataclass(frozen=True)
class FileDetail:
    file_id: int
    source_path: str  # landing directory (stage path analog)
    file_pattern: str  # glob, e.g. transactions_*.csv
    target_schema: str
    target_table: str
    file_format: str  # 'csv' | 'json'
    container: str = "landing"
    stage_name: str = "local"


DEFAULT_DATASETS: tuple[FileDetail, ...] = (
    FileDetail(1, "", "transactions*.csv", "bronze", "transactions", "csv"),
    FileDetail(2, "", "manual_logs*.csv", "bronze", "manual_logs", "csv"),
    FileDetail(3, "", "flight_logs*.csv", "bronze", "flight_logs", "csv"),
    FileDetail(4, "", "fitbit_steps*.csv", "bronze", "fitbit_steps", "csv"),
    FileDetail(5, "", "fitbit_sleep_score*.csv", "bronze", "fitbit_sleep_score", "csv"),
    FileDetail(6, "", "fitbit_heart_rate*.csv", "bronze", "fitbit_heart_rate", "csv"),
    FileDetail(7, "", "google_timeline*.json", "bronze", "google_timeline", "json"),
)


def default_config(landing_dir: str) -> dict[str, FileDetail]:
    """Config keyed by lower-cased target table (ingestion_logic.py:14)."""
    return {
        d.target_table.lower(): FileDetail(
            d.file_id,
            landing_dir,
            d.file_pattern,
            d.target_schema,
            d.target_table,
            d.file_format,
        )
        for d in DEFAULT_DATASETS
    }


def _multiset(rows: list[dict]) -> Counter:
    return Counter(tuple(sorted(r.items())) for r in rows)


def save_config(spark: SparkSession, wh: Warehouse, config: dict[str, FileDetail]) -> None:
    """Replace ``admin.file_details`` with ``config`` — skipped when the
    stored rows already equal it, so a steady-state tick writes nothing.
    FileDetail's fields are the table's columns."""
    rows = [asdict(d) for d in config.values()]
    if _multiset(ledger.rows(wh, "file_details")) == _multiset(rows):
        return
    schema = ADMIN_SCHEMAS["file_details"]
    df = spark.createDataFrame([tuple(r[f.name] for f in schema.fields) for r in rows], schema)
    wh.overwrite(spark, df, "admin", "file_details")


def load_config(spark: SparkSession, wh: Warehouse) -> dict[str, FileDetail]:
    """Config-table scan -> dict (reference ingestion_logic.py:5-25), read
    on the driver; ``spark`` is kept for the stable signature."""
    return {
        r["target_table"].lower(): FileDetail(**r) for r in ledger.rows(wh, "file_details")
    }
