"""Batch orchestration (SURVEY.md §2 D3-D4, I1, H10-H11): directory
processing, checkpoint/resume via the metadata tables, per-file retries,
accumulated batch totals, and the email notification sink."""

from __future__ import annotations

import datetime
import os
import subprocess
import sys
import textwrap

import pytest
from pyspark.sql import functions as F

from nspc_etl_basic_spark import load_config
from nspc_etl_basic_spark.plans import batch
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
    now = datetime.datetime.now(datetime.timezone.utc)

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


#: Spark jobs one directory batch runs outside its ``process_file``
#: calls, once the metadata tables exist: the resume lookup's
#: last-write-wins window (2, adaptive) and the completed-file set (1).
#: Both reads pin their table's schema (no parquet-footer job) and the
#: two batch events are written by pyarrow (no job); it was 7 before.
MAX_BOOKKEEPING_JOBS_PER_BATCH = 3


def test_batch_bookkeeping_job_count_pin(spark, tmp_path, monkeypatch):
    src = str(tmp_path / "in")
    cfg = _cfg(tmp_path)
    _mkfiles(src, {"one.csv": GOOD1})
    assert process_directory(spark, src, cfg, move_files=False).status == "Completed"

    sc = spark.sparkContext
    outer, inner = f"bookkeeping-{os.getpid()}", f"files-{os.getpid()}"
    load = batch.process_file

    def tagged(*args, **kwargs):
        sc.setJobGroup(inner, "process_file")
        try:
            return load(*args, **kwargs)
        finally:
            sc.setJobGroup(outer, "batch bookkeeping")

    monkeypatch.setattr(batch, "process_file", tagged)
    _mkfiles(src, {"two.csv": GOOD2})
    sc.setJobGroup(outer, "batch bookkeeping")
    try:
        res = process_directory(spark, src, cfg, move_files=False)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert (res.status, res.pending_processed) == ("Completed", 2)
    assert sc.statusTracker().getJobIdsForGroup(inner)
    jobs = len(sc.statusTracker().getJobIdsForGroup(outer))
    assert 0 < jobs <= MAX_BOOKKEEPING_JOBS_PER_BATCH, jobs


_OFF_UTC_SCRIPT = textwrap.dedent("""
    import datetime, os, sys, time
    sys.path.insert(0, sys.argv[1])
    from nspc_etl_basic_spark import get_spark, load_config
    from nspc_etl_basic_spark.plans.batch import process_directory
    from nspc_etl_basic_spark.sinks.metadata import MetadataStore
    from nspc_etl_basic_spark.sinks.writer import ParquetWarehouse

    work = sys.argv[2]
    utc = datetime.timezone.utc
    assert time.localtime().tm_gmtoff != 0, "host zone is UTC"
    spark = get_spark(app_name="off-utc", master="local[2]", shuffle_partitions=2)
    spark.sparkContext.setLogLevel("ERROR")
    cfg = load_config(overrides={
        "database": {"warehouse_path": os.path.join(work, "wh")},
        "batch_processing": {"max_resume_age_hours": 2},
    })
    src = os.path.join(work, "in")
    os.makedirs(src)
    with open(os.path.join(src, "a.csv"), "w") as fh:
        fh.write("id,v\\n1,x\\n")
    t0 = datetime.datetime.now(utc)
    assert process_directory(spark, src, cfg, move_files=False).status == "Completed"
    t1 = datetime.datetime.now(utc)

    # collect returns local wall time; as an instant it must fall
    # inside the load
    def inside(*times):
        return t0 - datetime.timedelta(seconds=1) <= min(times) and max(times) <= t1
    at = lambda ts: ts.astimezone(utc)
    meta = MetadataStore(ParquetWarehouse(spark, os.path.join(work, "wh")), cfg)
    (stats,) = meta.read_statistics().collect()
    assert inside(at(stats.JobStartTime), at(stats.JobEndTime)), (stats, t0, t1)
    (done,) = meta.current_batches().collect()
    assert inside(at(done.BatchStartTime), at(done.BatchEndTime)), (done, t0, t1)

    # a batch interrupted an hour ago is within the 2-hour resume age
    meta.append_batch_event({
        "BatchJobID": "interrupted", "DirectoryPath": os.path.abspath(src),
        "TotalFiles": 2, "FilesProcessed": 1, "FilesFailed": 0,
        "BatchStartTime": t1 - datetime.timedelta(hours=1),
        "BatchStatus": "InProgress", "IsResumed": False,
        "EventSeq": time.time_ns(),
    })
    res = process_directory(spark, src, cfg, move_files=False)
    assert (res.is_resumed, res.batch_job_id) == (True, "interrupted"), res
    spark.stop()
    print("OK")
""")


def test_times_read_back_at_their_instant_off_utc(tmp_path):
    """On a host whose zone is not UTC, every time the loader stores
    (job start/end, batch start/end) reads back at its true instant, and
    the resume age cut compares instants: a batch interrupted an hour
    ago resumes under a 2-hour limit. A fresh interpreter and JVM, so
    both start in the zone."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "TZ": "America/New_York"}
    proc = subprocess.run(
        [sys.executable, "-c", _OFF_UTC_SCRIPT, repo, str(tmp_path)],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0 and proc.stdout.strip().endswith("OK"), (
        proc.stdout[-2000:] + proc.stderr[-4000:]
    )


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
