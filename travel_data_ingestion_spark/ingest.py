"""Metadata-driven file -> bronze ingestion with an idempotency ledger.

Reproduces the reference's ingestion semantics (SURVEY §2.A) Spark-first:

- stage listing with glob pattern        (ingestion_logic.py:102-113, A-02)
- CSV / whole-doc JSON file formats      (file_format_csv.sql, A-03/A-04)
- positional column projection + lineage (ingestion_logic.py:74-81, A-05)
- per-file error isolation               (ON_ERROR='SKIP_FILE', A-06)
- filename exactly-once ledger           (ingestion_logic.py:124-129, A-07)
- RUNNING -> SUCCESS/FAILURE logging     (ingestion_logic.py:84-201, A-08)

The ledger is an append-only parquet table; "UPDATE" is append +
latest-row-wins on read (row_number over event_time) — the scalable
analog of the reference's in-place UPDATE. load_id = MAX(load_id)+1,
matching the reference's own MAX-based id retrieval
(ingestion_logic.py:149); single-driver sequencing is documented in
SURVEY §7.4-4.

Ledger I/O is driver-side (``ledger`` module, pyarrow): the exactly-once
check, the id allocation and the RUNNING/SUCCESS/FAILURE rows run no
Spark job, so a file costs only its own parse + bronze append. Order is
write-ahead: RUNNING is committed (temp file + atomic rename) before
the file is read, SUCCESS/FAILURE after its bronze append. Spark
consumers keep ``ingestion_ledger`` over ``wh.read``.
"""

from __future__ import annotations

import fnmatch
import os
import re
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from travel_data_ingestion_spark import ledger
from travel_data_ingestion_spark.catalog import (
    BRONZE_SCHEMAS,
    LINEAGE_FIELDS,
    Warehouse,
)
from travel_data_ingestion_spark.config import FileDetail
from travel_data_ingestion_spark.io import CSV_OPTIONS

_LINEAGE_COLS = [f.name for f in LINEAGE_FIELDS]


def lineage_row_id(load_id: int) -> F.Column:
    """Collision-free row_id from disjoint bit fields:

    ``[load_id:15][partition:20][row-in-partition:28]`` (63 bits).

    The previous formula ``load_id * 2**32 + monotonically_increasing_id()``
    collided across batches: monotonic ids pack the partition id at bit 33,
    so any multi-partition file overflowed into the next load's id space.
    Here each field is masked into its own range and overflow raises
    instead of silently colliding. Limits (documented, enforced): 32k loads
    per table, 1M tasks per load, 268M rows per task — far above any sane
    partition sizing (a 128 MB parquet split holds ~1-10M rows).
    """
    mono = F.monotonically_increasing_id()  # (partition_id << 33) | row_seq
    part = F.shiftright(mono, 33)
    seq = mono.bitwiseAND(F.lit((1 << 33) - 1))
    ok = (
        (F.lit(load_id) < F.lit(1 << 15))
        & (part < F.lit(1 << 20))
        & (seq < F.lit(1 << 28))
    )
    rid = (
        F.shiftleft(F.lit(load_id).cast("long"), 48)
        + F.shiftleft(part, 28)
        + seq
    )
    return F.when(ok, rid).otherwise(
        F.raise_error(F.lit("row_id bit-field overflow: load/partition/row out of range"))
    )


def glob_to_regex(pattern: str) -> str:
    """Glob -> regex exactly as the reference converts it
    (ingestion_logic.py:102: '.'-escape then '*' -> '.*')."""
    return pattern.replace(".", r"\.").replace("*", ".*")


def list_stage_files(source_path: str, file_pattern: str) -> list[str]:
    """LIST @stage PATTERN analog: regex match over the landing dir."""
    rx = re.compile(glob_to_regex(file_pattern) + r"$")
    out = []
    for name in sorted(os.listdir(source_path)):
        if rx.match(name):
            out.append(os.path.join(source_path, name))
    return out


def ingestion_ledger(spark: SparkSession, wh: Warehouse) -> DataFrame:
    """Latest status per (load_id, file_name): append-only log collapsed
    with a recency window (the A-08 'UPDATE' analog)."""
    log = wh.read(spark, "admin", "ingestion_logs")
    w = Window.partitionBy("load_id").orderBy(F.col("event_time").desc())
    return log.withColumn("__rn", F.row_number().over(w)).filter("__rn = 1").drop("__rn")


def _successful_files(wh: Warehouse, target_table: str | None = None) -> set[str]:
    """SUCCESS file names, scoped to one target table: exactly-once is
    per (file, dataset) — two datasets with overlapping glob patterns
    each ingest the file into their own bronze table (the ledger's
    target_table column exists precisely for this). Latest row per
    load_id wins, as in ``ingestion_ledger``."""
    latest: dict[int, dict] = {}
    for r in ledger.rows(wh, "ingestion_logs"):
        cur = latest.get(r["load_id"])
        if cur is None or r["event_time"] > cur["event_time"]:
            latest[r["load_id"]] = r
    return {
        r["file_name"]
        for r in latest.values()
        if r["status"] == "SUCCESS"
        and (target_table is None or r["target_table"] == target_table)
    }


def _log(
    wh: Warehouse,
    load_id: int,
    file_id: int,
    file_name: str,
    target_table: str,
    status: str,
    rows_loaded: int | None = None,
    error: str | None = None,
) -> None:
    ledger.append(
        wh,
        "ingestion_logs",
        [
            {
                "load_id": load_id,
                "file_id": file_id,
                "file_name": file_name,
                "target_table": target_table,
                "status": status,
                "rows_loaded": rows_loaded,
                "error_message": error,
                "event_time": datetime.now(timezone.utc),
            }
        ],
    )


def read_landing_file(spark: SparkSession, path: str, file_format: str) -> DataFrame:
    """File-format scans (A-03/A-04).

    CSV: header skipped, '\"'-quoted, NULL/null/'' -> NULL, permissive
    column-count handling (file_format_csv.sql:1-6 +
    error_on_column_count_mismatch=false).
    JSON: whole document -> one raw string row (file_format_json.sql:1 —
    each top-level value becomes one VARIANT row).
    """
    if file_format == "csv":
        # single source of truth for CSV parsing options (io.CSV_OPTIONS):
        # the batch path, io.read_table, and the streaming ingest must all
        # parse a file into identical rows, or replays/re-ingests diverge
        return spark.read.options(**CSV_OPTIONS).csv(path)
    if file_format == "json":
        return spark.read.text(path, wholetext=True).toDF("raw_data")
    raise ValueError(f"unsupported file format: {file_format}")


def _csv_null_tokens(df: DataFrame) -> DataFrame:
    """Multi-token NULL_IF ('NULL','null','') — the reader's
    nullValue='NULL' handles only that token (and setting it OVERRIDES
    Spark's default ''-as-null, so a quoted empty field would otherwise
    survive as ''); normalize the remaining two tokens here."""
    for c in df.columns:
        df = df.withColumn(
            c, F.when(F.col(c).isin("null", ""), None).otherwise(F.col(c))
        )
    return df


def ingest_file(
    spark: SparkSession,
    wh: Warehouse,
    detail: FileDetail,
    path: str,
    load_id: int,
) -> int:
    """COPY INTO analog for one file (A-05): positional projection to the
    bronze schema's business columns + lineage columns, append."""
    table = detail.target_table
    bronze_schema = BRONZE_SCHEMAS[table]
    business_cols = [f.name for f in bronze_schema.fields if f.name not in _LINEAGE_COLS]

    raw = read_landing_file(spark, path, detail.file_format)
    if detail.file_format == "csv":
        raw = _csv_null_tokens(raw)

    # Positional $1..$N mapping: take the first N source columns in order,
    # pad missing trailing columns with NULL (column-count tolerance).
    n = len(business_cols)
    src = raw.columns[:n]
    projected = raw.select(*[F.col(c) for c in src]).toDF(*business_cols[: len(src)])
    for missing in business_cols[len(src):]:
        projected = projected.withColumn(missing, F.lit(None).cast("string"))
    projected = projected.select(*business_cols)

    # Lineage columns (reset_schemas.sql:68-71, populated as in
    # ingestion_logic.py:166). row_id is unique + monotone per table via
    # disjoint (load_id | partition | row) bit fields — no global window,
    # no gaplessness requirement (the reference only ever takes
    # MAX(load_id)).
    with_lineage = (
        projected.withColumn("_ingestion_time", F.current_timestamp())
        .withColumn("_source_file", F.lit(os.path.basename(path)))
        .withColumn("load_id", F.lit(load_id).cast("long"))
        .withColumn("row_id", lineage_row_id(load_id))
    )
    # one parse per file: without the persist, count() and the append
    # each re-read and re-parse the whole file (and could even disagree
    # if the landing file changed between the two scans)
    with_lineage = with_lineage.persist()
    try:
        count = with_lineage.count()
        wh.append(spark, with_lineage, "bronze", table, partition_by=("load_id",))
    finally:
        with_lineage.unpersist()
    return count


def ingest_dataset(spark: SparkSession, wh: Warehouse, detail: FileDetail) -> list[int]:
    """Ingest every new file of one dataset; returns the load_ids created.

    Per-file error isolation: a failing file logs FAILURE and is skipped
    (ON_ERROR='SKIP_FILE', ingestion_logic.py:157-182); already-SUCCESS
    filenames are skipped (A-07 exactly-once ledger).
    """
    done = _successful_files(wh, detail.target_table)
    load_ids: list[int] = []
    for path in list_stage_files(detail.source_path, detail.file_pattern):
        fname = os.path.basename(path)
        if fname in done:
            continue
        load_id = ledger.next_id(wh, "ingestion_logs", "load_id")
        _log(wh, load_id, detail.file_id, fname, detail.target_table, "RUNNING")
        try:
            rows = ingest_file(spark, wh, detail, path, load_id)
            _log(
                wh, load_id, detail.file_id, fname, detail.target_table,
                "SUCCESS", rows_loaded=rows,
            )
            load_ids.append(load_id)
        except Exception as exc:  # noqa: BLE001 - per-file isolation
            _log(
                wh, load_id, detail.file_id, fname, detail.target_table,
                "FAILURE", error=str(exc)[:2000],
            )
    return load_ids


def ingest_all(spark: SparkSession, wh: Warehouse, config: dict[str, FileDetail]) -> dict[str, list[int]]:
    """Dynamic task-per-dataset loop (K-01, dynamic_ingestion_dag.py:18-26)."""
    return {
        name: ingest_dataset(spark, wh, detail) for name, detail in sorted(config.items())
    }
