"""Sources and sinks (SURVEY.md §2.1, S1-S7).

Reference semantics re-expressed scale-first:

- S1 CSV scan (reference: notebooks/00_prepare_data.py:43-53) — the
  reference uses ``inferSchema=True`` everywhere; here inference is an
  explicit opt-in (exploration only) because inference is a full extra
  pass over the data.
- S2/S3 Parquet scan/sink (reference: notebooks/00_prepare_data.py:91,
  src/features/feature_engineering.py:401-423) — ours adds
  ``partitionBy`` and bucketing options for scale.
- S4 local-row source (reference: src/inference/predict.py:62) is
  ``spark.createDataFrame`` with an explicit schema (queries_core.s4_local_rows).
- S6 CSV sink — native ``df.write.csv``; the reference detoured through
  pandas (src/webapp/app.py:153), a driver-memory bottleneck at scale.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
    infer_schema: bool = False,
) -> DataFrame:
    """CSV scan. Pass ``schema`` in production; ``infer_schema`` only for
    exploration (it triggers an extra full read)."""
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    elif infer_schema:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Parquet sink. ``partition_by`` enables partition pruning for
    downstream scans — essential at 100 TB (scan only the partitions a
    query touches)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite", header: bool = True) -> None:
    """Native distributed CSV sink (no pandas detour)."""
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 16,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed table sink: co-locates rows by hash(bucket_cols) at
    WRITE time so later joins/aggregations on those columns need no
    exchange — the 100 TB answer to repeatedly-joined fact tables (pay
    the shuffle once at ingest, never per query). Requires saveAsTable
    (bucket metadata lives in the catalog).

    Self-healing against orphaned locations: a killed prior process
    can leave the managed-table DIRECTORY in spark-warehouse with no
    catalog entry, and saveAsTable then fails with
    LOCATION_ALREADY_EXISTS even in overwrite mode (overwrite replaces
    CATALOG tables, not stray directories). The heal is deliberately
    narrow: it fires only AFTER saveAsTable actually failed with
    LOCATION_ALREADY_EXISTS, only for single-segment table names (a
    qualified ``db.tbl`` lives at ``<db>.db/<tbl>``, not
    ``warehouse/db.tbl``, and an external table's location may be an
    unrelated same-named directory), and never for an empty name —
    destructive rmtree keyed on a naive layout guess is worse than the
    orphan it heals."""
    spark = df.sparkSession
    if mode == "overwrite":
        spark.sql(f"DROP TABLE IF EXISTS {table}")

    def _save() -> None:
        writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
        if sort_cols:
            writer = writer.sortBy(*sort_cols)
        writer.saveAsTable(table)

    try:
        _save()
    except Exception as exc:  # noqa: BLE001 — retry only the known orphan case
        healable = (
            mode == "overwrite"
            and "LOCATION_ALREADY_EXISTS" in str(exc)
            and table
            and "." not in table
        )
        if not healable:
            raise
        warehouse = spark.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse"
        ).removeprefix("file:")
        loc = os.path.join(warehouse, table.lower())
        if not os.path.isdir(loc):
            raise
        shutil.rmtree(loc, ignore_errors=True)
        _save()
