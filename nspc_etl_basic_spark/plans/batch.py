"""Directory-batch orchestration with checkpoint/resume (SURVEY.md §2
D3-D4, I1-I3, H10-H11; reference loader.py:162-291 + main() isdir branch
loader.py:1517-1659).

The unit of checkpointing is the FILE (one file -> one table -> one
EtlJobStatistics row); recovery is driven entirely by querying the
metadata tables, never a local checkpoint file:

  - D4 resume: the most recent InProgress|Failed batch for this directory
    younger than ``max_resume_age_hours`` is resumed iff it still has
    pending files (total - processed - failed > 0). Resume keeps the SAME
    BatchJobID and marks IsResumed (reference loader.py:199-215).
  - D3 pending files: all files in the directory anti-joined against
    ``SELECT DISTINCT SourceFile ... WHERE BatchJobID=? AND
    JobStatus='Completed'`` (reference loader.py:231-251).
  - I1 retries: ``max_retries + 1`` attempts per file; exhaustion counts
    the file failed and writes a Failed statistics row (reference
    loader.py:1586-1599).
  - H10: batch lifecycle events appended last-write-wins (InProgress at
    start, Completed/CompletedWithErrors with accumulated totals at end —
    resumed batches ADD this run's counts to the stored ones, reference
    loader.py:1604-1619).
  - H11: one batch summary email after the final update.

At scale the driver loop is I/O-light (each iteration is one
``process_file``: 8 Spark jobs for a clean upsert file at ``local[4]``,
each itself distributed, see plans/pipeline.py). A batch's own
bookkeeping runs 3 more: the resume lookup's last-write-wins window (two
adaptive stages) and the completed-file set; the batch events are
written by pyarrow on the driver. For many small files, the streaming
ingest path (streaming/ingest.py, Trigger.AvailableNow) is the idiomatic
alternative — this module is the semantic-parity batch path.
"""

from __future__ import annotations

import datetime as _dt
import logging
import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from nspc_etl_basic_spark.config import load_config
from nspc_etl_basic_spark.plans.pipeline import FileLoadResult, process_file
from nspc_etl_basic_spark.sinks.email import EmailNotificationManager
from nspc_etl_basic_spark.sinks.metadata import MetadataStore
from nspc_etl_basic_spark.sinks.writer import ParquetWarehouse

logger = logging.getLogger(__name__)


@dataclass
class BatchResult:
    batch_job_id: str
    status: str  # Completed | CompletedWithErrors
    is_resumed: bool
    total_files: int
    files_processed: int  # accumulated across resumes
    files_failed: int
    pending_processed: int = 0  # this run only
    pending_failed: int = 0
    file_results: list[FileLoadResult] = field(default_factory=list)


class BatchJobManager:
    """D4 batch identity + D3 pending-file checkpoint queries over the
    metadata tables (reference BatchJobManager, loader.py:162-291)."""

    def __init__(self, meta: MetadataStore, directory_path: str, config: dict):
        self.meta = meta
        self.directory_path = os.path.abspath(directory_path)
        self.config = config

    def get_or_create_batch_job(self) -> tuple[str, bool, int, int]:
        """(BatchJobID, is_resumed, FilesProcessed, FilesFailed): a
        resumed batch carries the counts of the row that resumed it, a
        new one starts at 0/0."""
        bcfg = self.config.get("batch_processing", {})
        if not bcfg.get("enable_checkpointing", True):
            return str(uuid.uuid4()), False, 0, 0
        if not bcfg.get("resume_incomplete_batches", True):
            return str(uuid.uuid4()), False, 0, 0

        max_age_h = float(bcfg.get("max_resume_age_hours", 24))
        cutoff = _dt.datetime.now(_dt.timezone.utc) - _dt.timedelta(hours=max_age_h)

        from pyspark.sql import functions as F

        candidates = (
            self.meta.current_batches()
            .filter(
                (F.col("DirectoryPath") == self.directory_path)
                & F.col("BatchStatus").isin("InProgress", "Failed")
            )
            .orderBy(F.col("BatchStartTime").desc())
            .limit(1)
            .collect()
        )
        # the age cut runs here, on the newest candidate (it is younger
        # than the cutoff exactly when some candidate is): as a filter,
        # the per-call cutoff was a timestamp literal inlined into the
        # generated code, so every batch compiled the lookup anew.
        # ``collect`` returns local wall time; compare instants in UTC
        start = candidates[0].BatchStartTime if candidates else None
        if start is not None and start.astimezone(_dt.timezone.utc) > cutoff:
            row = candidates[0]
            processed, failed = row.FilesProcessed or 0, row.FilesFailed or 0
            remaining = (row.TotalFiles or 0) - processed - failed
            if remaining > 0:
                logger.info("resuming batch %s (%d files remaining)", row.BatchJobID, remaining)
                return row.BatchJobID, True, processed, failed
        return str(uuid.uuid4()), False, 0, 0

    def get_pending_files(self, all_files: list[str], batch_job_id: str) -> list[str]:
        # stats rows store SourceFile as basename (unique within the one
        # directory a batch covers) — compare on the same key
        completed = self.meta.completed_files(batch_job_id)
        pending = [f for f in all_files if os.path.basename(f) not in completed]
        logger.info("%d pending of %d total files", len(pending), len(all_files))
        return pending


def _list_files(directory: str) -> list[str]:
    """A6: plain files in one directory, non-recursive (loader.py:1538) —
    the error/ processed/ logs/ subdirs are naturally excluded."""
    return sorted(
        os.path.join(directory, f)
        for f in os.listdir(directory)
        if os.path.isfile(os.path.join(directory, f))
    )


def process_directory(
    spark: SparkSession,
    directory: str,
    config: dict | None = None,
    move_files: bool = True,
) -> BatchResult:
    """The reference's main() isdir branch (loader.py:1517-1659) as a
    library function: resume-or-create batch -> pending-file anti-join ->
    per-file retry loop -> final accumulated batch event -> email."""
    config = config or load_config()
    directory = os.path.abspath(directory)
    warehouse = ParquetWarehouse(
        spark, config["database"].get("warehouse_path", "warehouse")
    )
    meta = MetadataStore(warehouse, config)
    manager = BatchJobManager(meta, directory, config)

    batch_job_id, is_resumed, prior_processed, prior_failed = (
        manager.get_or_create_batch_job()
    )
    all_files = _list_files(directory)
    pending = manager.get_pending_files(all_files, batch_job_id)
    total_files = len(all_files)
    start = _dt.datetime.now(_dt.timezone.utc)

    meta.append_batch_event(
        {
            "BatchJobID": batch_job_id,
            "DirectoryPath": directory,
            "TotalFiles": total_files,
            "FilesProcessed": prior_processed,
            "FilesFailed": prior_failed,
            "BatchStartTime": start,
            "BatchStatus": "InProgress",
            "IsResumed": is_resumed,
            "OriginalBatchJobID": batch_job_id if is_resumed else None,
            "EventSeq": time.time_ns(),
        }
    )

    # reference main() defaults to 1 retry (loader.py:1579); config raises it
    max_retries = int(config.get("loader", {}).get("max_retries", 1))
    run_processed = run_failed = 0
    results: list[FileLoadResult] = []

    for path in pending:
        last: FileLoadResult | None = None
        for attempt in range(max_retries + 1):
            last = process_file(
                spark, path, config, warehouse=warehouse,
                batch_job_id=batch_job_id, move_files=move_files,
            )
            if last.status == "Completed":
                break
            logger.warning(
                "attempt %d/%d failed for %s: %s",
                attempt + 1, max_retries + 1, path, last.error_message,
            )
            if move_files and last.moved_to and os.path.exists(last.moved_to):
                # un-quarantine for the retry
                import shutil

                shutil.move(last.moved_to, path)
                last.moved_to = None
        results.append(last)
        if last.status == "Completed":
            run_processed += 1
        else:
            run_failed += 1
            if move_files and os.path.exists(path):
                from nspc_etl_basic_spark.plans.pipeline import _move_file

                last.moved_to = _move_file(path, "error")

    total_processed = prior_processed + run_processed
    total_failed = prior_failed + run_failed
    final_status = "CompletedWithErrors" if total_failed > 0 else "Completed"
    end = _dt.datetime.now(_dt.timezone.utc)

    meta.append_batch_event(
        {
            "BatchJobID": batch_job_id,
            "DirectoryPath": directory,
            "TotalFiles": total_files,
            "FilesProcessed": total_processed,
            "FilesFailed": total_failed,
            "BatchStartTime": start,
            "BatchEndTime": end,
            "BatchStatus": final_status,
            "IsResumed": is_resumed,
            "OriginalBatchJobID": batch_job_id if is_resumed else None,
            "EventSeq": time.time_ns(),
        }
    )

    EmailNotificationManager(config).send_job_completion_email(
        {
            "job_type": "Batch ETL Job",
            "status": final_status,
            "start_time": start.strftime("%Y-%m-%d %H:%M:%S"),
            "end_time": end.strftime("%Y-%m-%d %H:%M:%S"),
            "duration_seconds": int((end - start).total_seconds()),
            "is_batch": True,
            "directory_path": directory,
            "total_files": total_files,
            "files_processed": total_processed,
            "files_failed": total_failed,
            "batch_job_id": batch_job_id,
            "error_message": None
            if final_status == "Completed"
            else f"{total_failed} files failed processing",
        }
    )

    return BatchResult(
        batch_job_id=batch_job_id,
        status=final_status,
        is_resumed=is_resumed,
        total_files=total_files,
        files_processed=total_processed,
        files_failed=total_failed,
        pending_processed=run_processed,
        pending_failed=run_failed,
        file_results=results,
    )
