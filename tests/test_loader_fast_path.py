"""The loader's per-file fast path: insert/update counts observed on the
snapshot write, metadata appends written by pyarrow on the driver, one
validation aggregate, and the Spark job count of one clean upsert file."""

from __future__ import annotations

import datetime
import os
import time

import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from nspc_etl_basic_spark import load_config
from nspc_etl_basic_spark.operators.merge import (
    MergeObservation,
    dedup_last_wins,
    merge_counts,
    merge_upsert,
)
from nspc_etl_basic_spark.plans.pipeline import process_file
from nspc_etl_basic_spark.sinks.metadata import (
    BATCH_STATS_SCHEMA,
    ERROR_LOG_SCHEMA,
    JOB_STATS_SCHEMA,
    MetadataStore,
)
from nspc_etl_basic_spark.sinks.writer import ParquetWarehouse
from nspc_etl_basic_spark.sources.reader import SEQ_COL


def _reference_counts(target, source, pk):
    """The semi/anti formula the observed counts replace: distinct source
    keys, and target rows whose key the source matches."""
    keys = source.select(*pk).distinct()
    total = keys.count()
    updated = target.select(*pk).join(keys, pk, "left_semi").count()
    return total - updated, updated


TARGET = [(1, "x", "a"), (2, "x", "b"), (3, "y", "c"), (None, "x", "n")]
SCHEMA = "id int, k2 string, v string"


@pytest.mark.parametrize(
    "pk,source",
    [
        # in-file duplicate keys: last occurrence wins, counted once
        (["id"], [(2, "x", "b1"), (2, "x", "b2"), (9, "z", "i"), (9, "z", "j")]),
        # a null key never matches: inserted, even against a null-key row
        (["id"], [(None, "x", "n2"), (1, "x", "a2")]),
        # composite key: (3, y) matches, (3, x) is new
        (["id", "k2"], [(3, "y", "c2"), (3, "x", "new"), (None, "x", "n3")]),
        # empty source (every row of the file invalid)
        (["id"], []),
    ],
    ids=["dup_keys", "null_key", "composite_key", "empty_source"],
)
def test_observed_counts_match_semi_join_reference(spark, tmp_path, pk, source):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.write(spark.createDataFrame(TARGET, SCHEMA), "t")
    rows = [(*r, i) for i, r in enumerate(source)]
    src = dedup_last_wins(
        spark.createDataFrame(rows, f"{SCHEMA}, {SEQ_COL} long"), pk
    )
    target = wh.read("t")
    want = _reference_counts(target, src, pk)

    observe = MergeObservation()
    wh.overwrite_snapshot(merge_upsert(target, src, pk, observe=observe), "t")
    counts = merge_counts(observe)
    assert (counts.inserted, counts.updated) == want
    assert wh.read("t").count() == len(TARGET) + counts.inserted


def test_bucketed_counts_inside_foreach_batch(spark, tmp_path):
    """A streaming micro-batch belongs to the stream's own session while
    the bucketed table reads through the writer's: every observed leg
    must still complete (a leg on the micro-batch alone never did, and
    the merge blocked forever)."""
    from nspc_etl_basic_spark.sinks.bucketed_merge import BucketedTable

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.csv").write_text("id,v\n" + "".join(f"{i},a{i}\n" for i in range(5)))
    table = BucketedTable(spark, str(tmp_path / "bt"), ["id"], n_buckets=4)
    table.merge(spark.createDataFrame([(3, "x"), (9, "y")], "id long, v string"))
    counts = []
    query = (
        spark.readStream.schema("id long, v string").option("header", True)
        .csv(str(src))
        .writeStream.foreachBatch(lambda df, _: counts.append(table.merge(df)))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    finished = query.awaitTermination(240)
    query.stop()
    assert finished, "merge inside foreachBatch did not finish"
    assert [(c.inserted, c.updated) for c in counts] == [(4, 1)]
    assert table.read().count() == 6


def _cfg(tmp_path):
    return load_config(
        overrides={
            "database": {"warehouse_path": str(tmp_path / "wh")},
            "loader": {
                "table_mode": "upsert",
                "transaction_mode": "tolerant",
                "override_table_name": "t",
            },
        }
    )


def _load(spark, tmp_path, name, text):
    path = tmp_path / name
    path.write_text(text)
    return process_file(spark, str(path), _cfg(tmp_path), move_files=False)


def test_all_invalid_tolerant_file_counts_zero(spark, tmp_path):
    assert _load(spark, tmp_path, "a.csv", "id,v\n1,10\n2,20\n").status == "Completed"
    r = _load(spark, tmp_path, "b.csv", "id,v\n3,x\n4,y\n")
    assert (r.status, r.rows_read, r.rows_failed) == ("Completed", 2, 2)
    assert (r.rows_inserted, r.rows_updated) == (0, 0)


def test_null_key_loaded_twice_is_inserted_both_times(spark, tmp_path):
    assert _load(spark, tmp_path, "a.csv", "id,v\n1,10\n").status == "Completed"
    for name in ("b.csv", "c.csv"):
        r = _load(spark, tmp_path, name, "id,v\n,5\n1,11\n")
        assert (r.status, r.rows_inserted, r.rows_updated) == ("Completed", 1, 1)
    table = ParquetWarehouse(spark, str(tmp_path / "wh")).read("t")
    assert table.filter(F.col("id").isNull()).count() == 2


def _part_files(path):
    return sorted(f for f in os.listdir(path) if f.endswith(".parquet"))


@pytest.fixture(params=["UTC", "America/New_York"])
def local_tz(request, monkeypatch):
    """The driver's local time zone: naive datetimes are local wall time
    to ``createDataFrame`` and to ``collect``."""
    monkeypatch.setenv("TZ", request.param)
    time.tzset()
    yield request.param
    monkeypatch.undo()
    time.tzset()


def test_metadata_appends_round_trip_one_file_each(spark, tmp_path, local_tz):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    meta = MetadataStore(wh, {})
    ts = datetime.datetime(2026, 3, 4, 5, 6, 7, 123456)
    stats = {
        "JobRunID": "r1", "JobStartTime": ts, "JobEndTime": None,
        "JobDurationSeconds": None, "JobStatus": "Failed",
        "SourceFile": "f.csv", "TargetTable": "t", "RowsRead": 3,
        "RowsInserted": None, "RowsUpdated": 0, "RowsFailed": None,
        "ErrorMessage": None, "BatchJobID": None,
    }
    event = {
        "BatchJobID": "b1", "DirectoryPath": "/d", "TotalFiles": 2,
        "FilesProcessed": None, "FilesFailed": 0, "BatchStartTime": ts,
        "BatchEndTime": None, "BatchStatus": "InProgress", "IsResumed": False,
        "OriginalBatchJobID": None, "EventSeq": 1_700_000_000_000_000_001,
    }
    quality = {
        "check_name": "c", "value": 0.25, "lo": None, "hi": 1.0, "passed": True,
    }
    for _ in range(2):
        meta.write_statistics(stats)
        meta.append_batch_event(event)
        meta.write_quality_results([quality], "r1", "t")
    for table in (meta.stats_table, meta.batch_table, meta.quality_table):
        assert len(_part_files(wh.table_path(table))) == 2

    assert [r.asDict() for r in meta.read_statistics().collect()] == [stats] * 2
    got = meta.wh.read(meta.batch_table).collect()
    assert [r.asDict() for r in got] == [event] * 2
    q = meta.read_quality_results().collect()
    assert [
        (r.JobRunID, r.TableName, r.CheckName, r.Value, r.Lo, r.Hi, r.Passed)
        for r in q
    ] == [("r1", "t", "c", 0.25, None, 1.0, True)] * 2
    # the check time is stored as its instant and read back as local
    # wall time
    now = datetime.datetime.now()
    assert all(abs((r.CheckTimestamp - now).total_seconds()) < 600 for r in q)


def test_metadata_dir_of_spark_and_pyarrow_files_reads_identical_rows(
    spark, tmp_path, local_tz
):
    """Metadata tables written before appends moved to pyarrow hold files
    Spark wrote (INT96 timestamps); new rows land beside them as pyarrow
    files. Both read back as the same rows, times at the same instant."""
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    meta = MetadataStore(wh, {})
    utc = datetime.timezone.utc
    ts = datetime.datetime(2026, 3, 4, 5, 6, 7, 123456, tzinfo=utc)
    rows = {
        meta.stats_table: (JOB_STATS_SCHEMA, {
            "JobRunID": "r1", "JobStartTime": ts, "JobEndTime": ts,
            "JobDurationSeconds": 0, "JobStatus": "Completed",
            "SourceFile": "f.csv", "TargetTable": "t", "RowsRead": 3,
            "RowsInserted": 2, "RowsUpdated": 1, "RowsFailed": 0,
            "ErrorMessage": None, "BatchJobID": "b1",
        }),
        meta.error_table: (ERROR_LOG_SCHEMA, {
            "ErrorID": "e1", "JobRunID": "r1", "TableName": "t",
            "ColumnName": "column 'id' failed cast to bigint",
            "ErrorType": "CAST_VALIDATION", "ErrorMessage": '{"id":"x"}',
            "ErrorTimestamp": ts,
        }),
        meta.batch_table: (BATCH_STATS_SCHEMA, {
            "BatchJobID": "b1", "DirectoryPath": "/d", "TotalFiles": 1,
            "FilesProcessed": 1, "FilesFailed": 0, "BatchStartTime": ts,
            "BatchEndTime": ts, "BatchStatus": "Completed", "IsResumed": False,
            "OriginalBatchJobID": None, "EventSeq": 7,
        }),
    }
    for name, (schema, row) in rows.items():
        # the Spark write every append used to be
        batch = pa.Table.from_pylist([row], schema=to_arrow_schema(schema))
        spark.createDataFrame(batch, schema=schema).write.mode("append").parquet(
            wh.table_path(name)
        )
        meta._append([row], schema, name)
    reads = {
        meta.stats_table: meta.read_statistics,
        meta.error_table: meta.read_errors,
        meta.batch_table: meta.current_batches,
    }
    local = ts.astimezone().replace(tzinfo=None)  # collect's wall time
    for name, (_schema, row) in rows.items():
        want = {k: local if v is ts else v for k, v in row.items()}
        got = [r.asDict() for r in reads[name]().collect()]
        assert got == [want] * (1 if name == meta.batch_table else 2), name
        # and Spark's own inference over the mixed dir agrees
        inferred = spark.read.parquet(wh.table_path(name)).collect()
        assert [r.asDict() for r in inferred] == [want] * 2, name


def _jobs(spark, fn):
    """(fn's result, number of Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"job-count-pin-{os.getpid()}-{time.monotonic_ns()}"
    sc.setJobGroup(group, "job count pin")
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(lo, hi, tag, bad=""):
    return "id,name,amount\n" + "".join(
        f"{i},{tag}{i},{i}.25\n" for i in range(lo, hi)
    ) + bad


#: Spark jobs of one clean upsert CSV into an existing table, measured
#: at ``local[4]``: 8. The CSV header (1); the one
#: validation aggregate of rows read and invalid rows (3: filling the
#: held read's cache, then the adaptive shuffle and result stages); the
#: snapshot write with its adaptive query stages (4). The target's
#: schema comes from its manifest and the statistics row is written by
#: pyarrow, so neither runs a job. The loader ran 12 before (a separate
#: row count and invalid count, the target's parquet-footer job and a
#: Spark write per statistics row) and 20 before the merge counts moved
#: onto the snapshot write.
MAX_JOBS_PER_CLEAN_UPSERT = 8


def test_clean_upsert_job_count_pin(spark, tmp_path):
    assert _load(spark, tmp_path, "a.csv", _rows(0, 100, "n")).status == "Completed"
    r, jobs = _jobs(spark, lambda: _load(spark, tmp_path, "b.csv", _rows(50, 150, "m")))
    assert (r.status, r.rows_inserted, r.rows_updated) == ("Completed", 50, 50)
    assert 0 < jobs <= MAX_JOBS_PER_CLEAN_UPSERT, jobs


def test_invalid_rows_add_only_the_report_collect(spark, tmp_path):
    """A file with invalid rows runs exactly one job more than a clean
    one: the collect of the error report. The invalid count comes from
    the same validation aggregate, and the error log is written by
    pyarrow."""
    assert _load(spark, tmp_path, "a.csv", _rows(0, 100, "n")).status == "Completed"
    clean, clean_jobs = _jobs(
        spark, lambda: _load(spark, tmp_path, "b.csv", _rows(50, 150, "m"))
    )
    dirty, dirty_jobs = _jobs(
        spark,
        lambda: _load(spark, tmp_path, "c.csv", _rows(50, 150, "d", bad="x,y,1\n")),
    )
    assert (clean.rows_failed, dirty.rows_failed) == (0, 1)
    assert dirty.status == "Completed"
    assert dirty_jobs == clean_jobs + 1, (clean_jobs, dirty_jobs)


@pytest.mark.parametrize(
    "header", ["id,name,amount", "id,name,bonus"], ids=["same_columns", "unknown_column"]
)
def test_header_only_file_into_existing_table_is_a_no_op(spark, tmp_path, header):
    """A5 comes before schema authority: an empty file into an existing
    upsert table completes without touching it, even when its header
    names a column the table lacks. With rows, that column still fails
    the file."""
    assert _load(spark, tmp_path, "a.csv", _rows(0, 10, "n")).status == "Completed"
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    version = wh.current_version("t")
    r = _load(spark, tmp_path, "h.csv", header + "\n")
    assert (r.status, r.rows_read, r.rows_inserted, r.rows_updated, r.rows_failed) == (
        "Completed", 0, 0, 0, 0,
    )
    assert wh.current_version("t") == version
    if "bonus" in header:
        r = _load(spark, tmp_path, "u.csv", header + "\n1,a,2\n")
        assert r.status == "Failed"
        assert "['bonus'] not in existing table 't'" in r.error_message
        assert wh.current_version("t") == version


def test_error_log_has_one_row_per_invalid_row(spark, tmp_path):
    """EtlJobError contents: one row per invalid row, its failed columns'
    messages and the raw row as JSON (the format the error log has
    always had), with a unique id and the load's time."""
    seed = "id,name,amount\n1,a,1.5\n2,b,2.5\n"
    assert _load(spark, tmp_path, "a.csv", seed).status == "Completed"
    r = _load(spark, tmp_path, "b.csv", "id,name,amount\n2,bb,x\n3,c,3.5\nbad,d,4.5\n")
    assert (r.status, r.rows_inserted, r.rows_updated, r.rows_failed) == (
        "Completed", 1, 0, 2,
    )
    err = spark.read.parquet(str(tmp_path / "wh" / "EtlJobError")).collect()
    assert sorted(
        (e.JobRunID, e.TableName, e.ColumnName, e.ErrorType, e.ErrorMessage)
        for e in err
    ) == [
        (r.job_run_id, "t", "column 'amount' failed cast to decimal(18,4)",
         "CAST_VALIDATION", '{"id":"2","name":"bb","amount":"x","__seq":0}'),
        (r.job_run_id, "t", "column 'id' failed cast to bigint",
         "CAST_VALIDATION", '{"id":"bad","name":"d","amount":"4.5","__seq":2}'),
    ]
    assert len({e.ErrorID for e in err}) == 2
    now = datetime.datetime.now()
    assert all(abs((e.ErrorTimestamp - now).total_seconds()) < 600 for e in err)


def test_warm_tolerant_file_with_invalid_rows_compiles_nothing(spark, tmp_path):
    """Once a table's tolerant loads are warm, another file with invalid
    rows finds every generated class compiled: the error log's id and
    time are made on the driver, not by ``uuid()`` and
    ``current_timestamp()``, whose per-query values Spark inlines into
    generated code (one new class per file)."""
    from nspc_etl_basic_spark.session import codegen_compiles

    def bad_file(i):
        return f"id,name,amount\n{i},n{i},x\n{i + 1},m{i},{i}.5\n"

    assert _load(spark, tmp_path, "a.csv", "id,name,amount\n1,a,1.5\n").status == "Completed"
    for i in (10, 20):
        assert _load(spark, tmp_path, f"w{i}.csv", bad_file(i)).rows_failed == 1
    before = codegen_compiles(spark)[0]
    r = _load(spark, tmp_path, "c.csv", bad_file(30))
    assert (r.status, r.rows_failed) == ("Completed", 1)
    assert codegen_compiles(spark)[0] - before == 0


def test_unknown_transaction_mode_fails_before_the_read(spark, tmp_path):
    """A mode other than strict/tolerant would skip both validation
    gates; the file fails up front instead, and nothing is written."""
    cfg = _cfg(tmp_path)
    cfg["loader"]["transaction_mode"] = "Strict"
    path = tmp_path / "a.csv"
    path.write_text("id,v\n1,x\n")
    r = process_file(spark, str(path), cfg, move_files=False)
    assert (r.status, r.rows_read) == ("Failed", 0)
    assert "transaction_mode" in r.error_message and "'Strict'" in r.error_message
    assert not ParquetWarehouse(spark, str(tmp_path / "wh")).exists("t")
