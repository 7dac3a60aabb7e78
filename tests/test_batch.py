"""Batch orchestration (SURVEY.md §2 D3-D4, I1, H10-H11): directory
processing, checkpoint/resume via the metadata tables, per-file retries,
accumulated batch totals, and the email notification sink."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from nspc_etl_basic_spark import load_config
from nspc_etl_basic_spark.plans.batch import BatchJobManager, process_directory
from nspc_etl_basic_spark.session import codegen_compiles
from nspc_etl_basic_spark.sinks.email import EmailNotificationManager
from nspc_etl_basic_spark.sinks.metadata import MetadataStore
from nspc_etl_basic_spark.sinks.writer import ParquetWarehouse


def _cfg(tmp_path, **over):
    return load_config(
        overrides={
            "database": {"warehouse_path": str(tmp_path / "wh")},
            **over,
        }
    )


def _mkfiles(d, specs):
    os.makedirs(d, exist_ok=True)
    for name, text in specs.items():
        with open(os.path.join(d, name), "w", encoding="utf-8") as fh:
            fh.write(text)


GOOD1 = "id,name\n1,a\n2,b\n"
GOOD2 = "id,qty\n1,10\n2,20\n3,30\n"


def test_directory_batch_completes(spark, tmp_path):
    src = str(tmp_path / "in")
    _mkfiles(src, {"one.csv": GOOD1, "two.csv": GOOD2})
    res = process_directory(spark, src, _cfg(tmp_path), move_files=False)
    assert res.status == "Completed"
    assert not res.is_resumed
    assert res.total_files == 2
    assert res.files_processed == 2
    assert res.files_failed == 0
    # both tables landed
    for t in ("one_csv", "two_csv"):
        assert os.path.isdir(str(tmp_path / "wh" / t))
    # H10: final batch event is Completed with totals
    meta = MetadataStore(ParquetWarehouse(spark, str(tmp_path / "wh")), {})
    cur = meta.current_batches().collect()
    assert len(cur) == 1
    assert cur[0].BatchStatus == "Completed"
    assert cur[0].FilesProcessed == 2


def test_directory_batch_resume_skips_completed(spark, tmp_path):
    src = str(tmp_path / "in")
    _mkfiles(src, {"one.csv": GOOD1, "two.csv": GOOD2})
    cfg = _cfg(tmp_path)
    first = process_directory(spark, src, cfg, move_files=False)
    assert first.status == "Completed"

    # simulate an interrupted batch: rewrite the final event as InProgress
    # with one file unaccounted for, then add a new pending file
    meta = MetadataStore(ParquetWarehouse(spark, str(tmp_path / "wh")), cfg)
    last = meta.current_batches().collect()[0]
    meta.append_batch_event(
        {
            **{k: getattr(last, k) for k in last.__fields__},
            "BatchStatus": "InProgress",
            "TotalFiles": 3,
            "EventSeq": last.EventSeq + 1,
        }
    )
    _mkfiles(src, {"three.csv": "id,v\n9,z\n"})

    second = process_directory(spark, src, cfg, move_files=False)
    assert second.is_resumed
    assert second.batch_job_id == first.batch_job_id
    # D3: only the new file ran in this pass
    assert second.pending_processed == 1
    # totals accumulate prior counts (reference loader.py:1604-1619)
    assert second.files_processed == 3
    assert second.status == "Completed"


def test_directory_batch_failed_file_and_retries(spark, tmp_path):
    src = str(tmp_path / "in")
    # strict mode: bad.csv has an unparseable value against its inferred
    # type only if a target table exists; instead make an empty
    # file in insert mode -> always Failed (A5)
    _mkfiles(src, {"ok.csv": GOOD1, "bad.csv": ""})
    cfg = _cfg(tmp_path, loader={"max_retries": 1})
    res = process_directory(spark, src, cfg, move_files=False)
    assert res.status == "CompletedWithErrors"
    assert res.files_processed == 1
    assert res.files_failed == 1
    # I1: one Failed stats row per attempt (max_retries + 1 = 2 attempts)
    meta = MetadataStore(ParquetWarehouse(spark, str(tmp_path / "wh")), cfg)
    failed_rows = (
        meta.read_statistics()
        .filter((F.col("SourceFile") == "bad.csv") & (F.col("JobStatus") == "Failed"))
        .count()
    )
    assert failed_rows == 2


def test_batch_manager_no_resume_when_checkpointing_disabled(spark, tmp_path):
    cfg = _cfg(tmp_path, batch_processing={"enable_checkpointing": False})
    meta = MetadataStore(ParquetWarehouse(spark, str(tmp_path / "wh")), cfg)
    mgr = BatchJobManager(meta, str(tmp_path), cfg)
    bid, resumed, processed, failed = mgr.get_or_create_batch_job()
    assert not resumed and bid
    assert processed == failed == 0


def test_resume_skips_batches_past_max_age_and_compiles_once(spark, tmp_path):
    cfg = _cfg(tmp_path)
    meta = MetadataStore(ParquetWarehouse(spark, str(tmp_path / "wh")), cfg)
    mgr = BatchJobManager(meta, str(tmp_path / "in"), cfg)
    now = datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)

    def in_progress(bid, age_h, seq):
        meta.append_batch_event({
            "BatchJobID": bid, "DirectoryPath": mgr.directory_path,
            "TotalFiles": 3, "FilesProcessed": 1, "FilesFailed": 0,
            "BatchStartTime": now - datetime.timedelta(hours=age_h),
            "BatchEndTime": None, "BatchStatus": "InProgress",
            "IsResumed": False, "OriginalBatchJobID": None, "EventSeq": seq,
        })

    in_progress("stale", 30, 1)  # older than max_resume_age_hours (24)
    bid, resumed, _, _ = mgr.get_or_create_batch_job()
    assert not resumed and bid != "stale"
    in_progress("fresh", 1, 2)
    assert mgr.get_or_create_batch_job() == ("fresh", True, 1, 0)
    before = codegen_compiles(spark)[0]
    assert mgr.get_or_create_batch_job() == ("fresh", True, 1, 0)
    # the lookup's plan carries no per-call literal: the second one finds
    # every class it generates already compiled
    assert codegen_compiles(spark)[0] == before


# ---------------------------------------------------------------------------
# H11: email sink
# ---------------------------------------------------------------------------

class FakeSMTP:
    sent: list = []

    def sendmail(self, sender, recipients, msg):
        FakeSMTP.sent.append((sender, recipients, msg))

    def quit(self):
        pass


def test_email_disabled_is_noop_success():
    mgr = EmailNotificationManager({"email_notifications": {"enabled": False}})
    assert mgr.send_job_completion_email({"status": "Completed"}) is True


@pytest.mark.parametrize(
    "status,emoji",
    [
        ("Completed", "✅"),
        ("CompletedWithErrors", "⚠️"),
        ("Failed", "❌"),
        ("Whatever", "📊"),
    ],
)
def test_email_subject_by_status(status, emoji):
    mgr = EmailNotificationManager({"email_notifications": {"enabled": True}})
    assert mgr.generate_subject({"status": status}).startswith(emoji)


def test_email_send_via_transport():
    FakeSMTP.sent = []
    cfg = {
        "email_notifications": {
            "enabled": True,
            "sender": "etl@example.com",
            "recipients": ["ops@example.com"],
        }
    }
    mgr = EmailNotificationManager(cfg, transport_factory=FakeSMTP)
    ok = mgr.send_job_completion_email(
        {
            "job_type": "Batch ETL Job",
            "status": "CompletedWithErrors",
            "is_batch": True,
            "total_files": 3,
            "files_processed": 2,
            "files_failed": 1,
            "error_message": "1 files failed processing",
        }
    )
    assert ok is True
    assert len(FakeSMTP.sent) == 1
    sender, recipients, msg = FakeSMTP.sent[0]
    assert sender == "etl@example.com"
    assert recipients == ["ops@example.com"]
    assert "Batch ETL Job" in msg


def test_email_failure_returns_false_not_raise():
    class Boom:
        def __init__(self):
            raise ConnectionError("no smtp here")

    cfg = {
        "email_notifications": {
            "enabled": True,
            "sender": "a@b.c",
            "recipients": ["d@e.f"],
        }
    }
    mgr = EmailNotificationManager(cfg, transport_factory=Boom)
    assert mgr.send_job_completion_email({"status": "Failed"}) is False
