"""Driver-side I/O for the append-only ADMIN tables.

The admin ledgers (``ingestion_logs``, ``transformation_logs``) and the
config table (``file_details``) hold a handful of rows per file or batch,
yet every read and append used to be a full Spark job: the ledger
bookkeeping alone was about a third of a pipeline tick. Table formats keep
their small transaction log on the driver for the same reason. This
module reads and writes the same parquet directories with ``pyarrow``
instead; Spark consumers (``wh.read(spark, "admin", ...)``,
``ingest.ingestion_ledger``) see exactly the same table.

Contracts:

- Schema: the Arrow schema is derived from ``catalog.ADMIN_SCHEMAS``
  (``TimestampType`` -> ``timestamp[us, UTC]``), so there is one source
  of truth. Files written earlier by Spark (INT96 timestamps) and files
  written here read identically through both readers.
- Commit: ``append`` writes one parquet file per call, first under a
  dot-prefixed temp name in the table directory, then ``os.replace``\\ s
  it to ``part-<uuid>.parquet``. Spark and Arrow both skip dot-files, and
  the temp name does not end in ``.parquet`` (so ``Warehouse.exists``
  ignores it too): a crash leaves nothing visible.
- Order: callers keep the write-ahead order — RUNNING appended before
  the work, SUCCESS/FAILURE after — and the single-driver MAX+1 id
  allocation; nothing here reorders or batches across calls.
- Caching: a driver append does NOT refresh Spark's cached relations (a
  Spark write would). A fresh ``wh.read`` lists the directory again and
  sees the append, but a ``cache()``/``persist()``-ed ledger DataFrame
  would keep serving the old rows — never cache one.
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql.pandas.types import to_arrow_schema

from travel_data_ingestion_spark.catalog import ADMIN_SCHEMAS, Warehouse

# INT96 (the Spark writer's timestamp encoding) read at Spark's precision,
# so the cast to the registered timestamp[us, UTC] is exact
_FORMAT = ds.ParquetFileFormat(
    read_options=ds.ParquetReadOptions(coerce_int96_timestamp_unit="us")
)


def _arrow_schema(table: str) -> pa.Schema:
    return to_arrow_schema(ADMIN_SCHEMAS[table])


def rows(wh: Warehouse, table: str) -> list[dict]:
    """Every row of ``admin.<table>`` (raw log, not collapsed), as dicts;
    ``[]`` when the table does not exist yet."""
    path = wh.path("admin", table)
    if not os.path.isdir(path):
        return []
    dataset = ds.dataset(path, schema=_arrow_schema(table), format=_FORMAT)
    return dataset.to_table().to_pylist()


def next_id(wh: Warehouse, table: str, column: str) -> int:
    """MAX(column)+1 over the raw log (1 for an empty table) — the
    reference's MAX-based id retrieval; callers rely on the
    single-driver contract for uniqueness."""
    return max((r[column] or 0 for r in rows(wh, table)), default=0) + 1


def append(wh: Warehouse, table: str, new_rows: list[dict]) -> None:
    """Append ``new_rows`` (dicts; absent keys are NULL) as one parquet
    file, committed by an atomic rename."""
    if not new_rows:
        return
    path = wh.path("admin", table)
    os.makedirs(path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(path, f".{name}.tmp")
    pq.write_table(pa.Table.from_pylist(new_rows, schema=_arrow_schema(table)), tmp)
    os.replace(tmp, os.path.join(path, name))
