"""Job/batch/error metadata sinks (SURVEY.md §2 H8-H10, D3-D4 support).

Append-only Parquet tables with the reference's exact column sets:
  - EtlJobStatistics  (loader.py:511-525, 12 cols + BatchJobID)
  - EtlJobError       (loader.py:548-557)
  - EtlBatchJobStatistics (loader.py:574-587 + enhanced cols :253-291)

Batch resume needs "latest state per BatchJobID"; with an append-only
store that is a last-write-wins read (window on EventSeq) rather than SQL
UPDATE — the Spark-native equivalent of the reference's in-place updates.

The rows are made on the driver, so an append writes them there with
pyarrow and runs no Spark job; reads pin each table's fixed schema, so
they plan without a parquet-footer job. Times are passed as aware UTC
datetimes and read back (``collect``) as local wall time.
"""

from __future__ import annotations

import datetime as _dt
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.window import Window

from nspc_etl_basic_spark.sinks.writer import ParquetWarehouse

JOB_STATS_SCHEMA = T.StructType(
    [
        T.StructField("JobRunID", T.StringType(), False),
        T.StructField("JobStartTime", T.TimestampType(), True),
        T.StructField("JobEndTime", T.TimestampType(), True),
        T.StructField("JobDurationSeconds", T.LongType(), True),
        T.StructField("JobStatus", T.StringType(), True),
        T.StructField("SourceFile", T.StringType(), True),
        T.StructField("TargetTable", T.StringType(), True),
        T.StructField("RowsRead", T.LongType(), True),
        T.StructField("RowsInserted", T.LongType(), True),
        T.StructField("RowsUpdated", T.LongType(), True),
        T.StructField("RowsFailed", T.LongType(), True),
        T.StructField("ErrorMessage", T.StringType(), True),
        T.StructField("BatchJobID", T.StringType(), True),
    ]
)

#: the reference's EtlJobError columns (loader.py:548-557), which
#: ``write_invalid_rows`` writes in this order
ERROR_LOG_SCHEMA = T.StructType(
    [
        T.StructField("ErrorID", T.StringType(), False),
        T.StructField("JobRunID", T.StringType(), True),
        T.StructField("TableName", T.StringType(), True),
        T.StructField("ColumnName", T.StringType(), True),
        T.StructField("ErrorType", T.StringType(), True),
        T.StructField("ErrorMessage", T.StringType(), True),
        T.StructField("ErrorTimestamp", T.TimestampType(), True),
    ]
)

BATCH_STATS_SCHEMA = T.StructType(
    [
        T.StructField("BatchJobID", T.StringType(), False),
        T.StructField("DirectoryPath", T.StringType(), True),
        T.StructField("TotalFiles", T.LongType(), True),
        T.StructField("FilesProcessed", T.LongType(), True),
        T.StructField("FilesFailed", T.LongType(), True),
        T.StructField("BatchStartTime", T.TimestampType(), True),
        T.StructField("BatchEndTime", T.TimestampType(), True),
        T.StructField("BatchStatus", T.StringType(), True),
        T.StructField("IsResumed", T.BooleanType(), True),
        T.StructField("OriginalBatchJobID", T.StringType(), True),
        # append-only versioning: highest EventSeq per BatchJobID is current
        T.StructField("EventSeq", T.LongType(), False),
    ]
)


QUALITY_SCHEMA = T.StructType(
    [
        T.StructField("JobRunID", T.StringType(), False),
        T.StructField("TableName", T.StringType(), True),
        T.StructField("CheckName", T.StringType(), False),
        T.StructField("Value", T.DoubleType(), True),
        T.StructField("Lo", T.DoubleType(), True),
        T.StructField("Hi", T.DoubleType(), True),
        T.StructField("Passed", T.BooleanType(), True),
        T.StructField("CheckTimestamp", T.TimestampType(), True),
    ]
)


def invalid_row_report(invalid: DataFrame) -> DataFrame:
    """``cast_and_split``'s ``invalid`` plus the EtlJobError fields Spark
    computes per row (``__ColumnName``, ``__ErrorMessage``); collected
    once for ``write_invalid_rows`` and the failed-row artifact."""
    from nspc_etl_basic_spark.operators.cast import ERROR_COL

    row = [c for c in invalid.columns if c != ERROR_COL]
    return invalid.select(
        "*",
        F.array_join(F.col(ERROR_COL), "; ").alias("__ColumnName"),
        F.to_json(F.struct(*row)).alias("__ErrorMessage"),
    )


class MetadataStore:
    def __init__(self, warehouse: ParquetWarehouse, config: dict | None = None):
        self.wh = warehouse
        cfg = config or {}
        self.stats_table = cfg.get("job_statistics", {}).get("table_name", "EtlJobStatistics")
        self.error_table = cfg.get("error_logging", {}).get("table_name", "EtlJobError")
        self.batch_table = cfg.get("batch_processing", {}).get(
            "batch_table_name", "EtlBatchJobStatistics"
        )
        self.quality_table = (cfg.get("quality") or {}).get(
            "table_name", "EtlQualityCheck"
        )

    def _append(self, rows: list[dict], schema: T.StructType, name: str) -> None:
        """Append driver-side rows as one parquet file, written by
        pyarrow on the driver: no Spark job. The file is written under a
        dot-prefixed name, which Spark's listing skips, then
        ``os.replace``d to ``part-<uuid>.parquet``, so a reader sees the
        whole file or none of it. Columns are nullable and timestamps
        UTC-adjusted microseconds, which Spark reads as ``timestamp``
        beside the files it wrote itself. Datetimes are converted to UTC
        first; a naive one reads as local wall time, as
        ``createDataFrame`` on plain rows reads it."""
        data = [
            {
                k: v.astimezone(_dt.timezone.utc) if isinstance(v, _dt.datetime) else v
                for k, v in r.items()
            }
            for r in rows
        ]
        arrow_schema = pa.schema(
            [f.with_nullable(True) for f in to_arrow_schema(schema)]
        )
        table = pa.Table.from_pylist(data, schema=arrow_schema)
        path = self.wh.table_path(name)
        os.makedirs(path, exist_ok=True)
        part = f"part-{uuid.uuid4()}.parquet"
        tmp = os.path.join(path, f".{part}.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(path, part))

    def _read(self, name: str, schema: T.StructType) -> DataFrame:
        """One metadata table, scanned with its fixed schema; empty
        before its first append."""
        if not self.wh.exists(name):
            return self.wh.spark.createDataFrame([], schema=schema)
        return self.wh.spark.read.schema(schema).parquet(self.wh.table_path(name))

    # ---- H8: job statistics
    def write_statistics(self, stats: dict) -> None:
        row = {f.name: stats.get(f.name) for f in JOB_STATS_SCHEMA.fields}
        self._append([row], JOB_STATS_SCHEMA, self.stats_table)

    def read_statistics(self) -> DataFrame:
        return self._read(self.stats_table, JOB_STATS_SCHEMA)

    # ---- H9: error log
    def write_invalid_rows(self, report: list, job_run_id: str, table_name: str) -> None:
        """One EtlJobError row per collected ``invalid_row_report`` row
        (G2). ``ErrorID``/``ErrorTimestamp`` are made on the driver:
        ``uuid()`` and ``current_timestamp()`` get inlined into generated
        code, a new class per file."""
        if not report:
            return
        now = _dt.datetime.now(_dt.timezone.utc)
        rows = [
            {
                "ErrorID": str(uuid.uuid4()),
                "JobRunID": job_run_id,
                "TableName": table_name,
                "ColumnName": r["__ColumnName"],
                "ErrorType": "CAST_VALIDATION",
                "ErrorMessage": r["__ErrorMessage"],
                "ErrorTimestamp": now,
            }
            for r in report
        ]
        self._append(rows, ERROR_LOG_SCHEMA, self.error_table)

    def read_errors(self) -> DataFrame:
        return self._read(self.error_table, ERROR_LOG_SCHEMA)

    # ---- quality-check results (round-4 extension; same append-only shape)
    def write_quality_results(
        self, results: list[dict], job_run_id: str, table_name: str
    ) -> None:
        now = _dt.datetime.now(_dt.timezone.utc)
        rows = [
            {
                "JobRunID": job_run_id,
                "TableName": table_name,
                "CheckName": r["check_name"],
                "Value": r["value"],
                "Lo": r["lo"],
                "Hi": r["hi"],
                "Passed": r["passed"],
                "CheckTimestamp": now,
            }
            for r in results
        ]
        self._append(rows, QUALITY_SCHEMA, self.quality_table)

    def read_quality_results(self) -> DataFrame:
        return self._read(self.quality_table, QUALITY_SCHEMA)

    # ---- H10: batch statistics (append-only, last EventSeq wins)
    def append_batch_event(self, event: dict) -> None:
        row = {f.name: event.get(f.name) for f in BATCH_STATS_SCHEMA.fields}
        self._append([row], BATCH_STATS_SCHEMA, self.batch_table)

    def current_batches(self) -> DataFrame:
        """Latest event per BatchJobID (reference's UPDATE-in-place read
        model, loader.py:1601-1638, expressed as last-write-wins)."""
        df = self._read(self.batch_table, BATCH_STATS_SCHEMA)
        w = Window.partitionBy("BatchJobID").orderBy(F.col("EventSeq").desc())
        return df.withColumn("__rn", F.row_number().over(w)).filter("__rn = 1").drop("__rn")

    # ---- D3: completed-file set for checkpoint anti-join
    def completed_files(self, batch_job_id: str) -> set[str]:
        stats = self.read_statistics()
        rows = (
            stats.filter(
                (F.col("BatchJobID") == batch_job_id)
                & (F.col("JobStatus") == "Completed")
            )
            .select("SourceFile")
            .distinct()
            .collect()
        )
        return {r["SourceFile"] for r in rows}
