"""Object-store-safe snapshot commit protocol (sinks/writer.py): versioned
data dirs + atomic ``_current`` manifest flip. The contract under test is
"a reader never sees a half-written snapshot" — including across a crash
between the staging write and the pointer flip, on both the snapshot and
the bucketed layout, which share the protocol."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nspc_etl_basic_spark.sinks.bucketed_merge import BucketedTable
from nspc_etl_basic_spark.sinks.writer import (
    BUCKETED_MANIFEST,
    HISTORY_DIR,
    MANIFEST_NAME,
    ParquetWarehouse,
    SchemaEvolutionError,
    TableExistsError,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, v string")


def _read_ids(wh, table):
    return sorted(r.id for r in wh.read(table).collect())


def _version_dirs(table_dir):
    return sorted(
        d
        for d in os.listdir(table_dir)
        if d.startswith("v_") and os.path.isdir(os.path.join(table_dir, d))
    )


def test_commit_creates_version_and_manifest(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.write(_df(spark, [(1, "a"), (2, "b")]), "t", mode="drop_recreate")
    assert wh.exists("t")
    assert _read_ids(wh, "t") == [1, 2]
    vs = _version_dirs(wh.table_path("t"))
    assert len(vs) == 1
    with open(os.path.join(wh.table_path("t"), MANIFEST_NAME)) as fh:
        assert json.load(fh)["version"] == vs[0]


def test_snapshot_overwrite_flips_pointer_and_gc_keeps_n(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"), keep_versions=2)
    for i in range(4):
        wh.overwrite_snapshot(_df(spark, [(i, "x")]), "t")
    assert _read_ids(wh, "t") == [3]
    vs = _version_dirs(wh.table_path("t"))
    assert len(vs) == 2  # current + one predecessor
    assert wh.current_version("t") == vs[-1]


def _snapshot_layout(spark, root):
    wh = ParquetWarehouse(spark, str(root / "wh"))
    return (
        wh,
        wh.table_path("t"),
        MANIFEST_NAME,
        lambda df: wh.overwrite_snapshot(df, "t"),
        lambda: _read_ids(wh, "t"),
    )


def _bucketed_layout(spark, root):
    t = BucketedTable(spark, str(root / "bt"), ["id"], n_buckets=2)
    return (
        t,
        t.path,
        BUCKETED_MANIFEST,
        t.merge,
        lambda: sorted(r.id for r in t.read().collect()),
    )


@pytest.mark.parametrize(
    "layout, ids_after_next",
    [(_snapshot_layout, [3]), (_bucketed_layout, [1, 3])],
    ids=["snapshot", "bucketed"],
)
def test_crash_before_flip_leaves_old_snapshot_intact(
    spark, tmp_path, monkeypatch, layout, ids_after_next
):
    """Kill the writer after the staging write but before the manifest
    flip: the reader must still resolve the previous state, and no
    reclaim may delete the orphan before a later commit supersedes it."""
    table, table_dir, manifest, commit, read_ids = layout(spark, tmp_path)
    commit(_df(spark, [(1, "old")]))
    (old_version,) = _version_dirs(table_dir)

    real_replace = os.replace

    def crash(src, dst):
        if os.path.basename(dst) == manifest:
            raise OSError("simulated crash at the commit point")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", crash)
    with pytest.raises(OSError, match="simulated crash"):
        commit(_df(spark, [(2, "new")]))
    monkeypatch.undo()

    # the orphan staging version exists on disk, but the reader resolves
    # the untouched previous state
    orphan = [v for v in _version_dirs(table_dir) if v != old_version]
    assert len(orphan) == 1
    assert read_ids() == [1]
    if manifest == MANIFEST_NAME:
        assert table.current_version("t") == old_version
        # the orphan is newer than the current version: it could be an
        # in-flight commit, so vacuum leaves it
        table.vacuum("t", retain_versions=1)
        assert orphan[0] in _version_dirs(table_dir)

    commit(_df(spark, [(3, "next")]))
    assert read_ids() == ids_after_next
    if manifest == MANIFEST_NAME:
        # once a commit supersedes it, the orphan is reclaimable
        table.vacuum("t", retain_versions=1)
        assert orphan[0] not in _version_dirs(table_dir)


def test_reader_resolved_before_flip_keeps_its_files(spark, tmp_path):
    """A plan resolved against version N must stay readable after the
    N+1 commit: keep_versions=2 retains N's files through one flip."""
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"), keep_versions=2)
    wh.overwrite_snapshot(_df(spark, [(1, "a")]), "t")
    stale_reader = spark.read.parquet(wh.data_path("t"))  # resolves v1
    wh.overwrite_snapshot(_df(spark, [(2, "b")]), "t")  # flips to v2
    assert sorted(r.id for r in stale_reader.collect()) == [1]
    assert _read_ids(wh, "t") == [2]


def test_legacy_plain_table_upgrades_in_place(spark, tmp_path):
    """Tables written before the versioned layout (flat parquet in the
    table dir) read fine and upgrade to versioned on first snapshot
    commit; the superseded flat files are GC'd."""
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    _df(spark, [(1, "legacy")]).write.parquet(wh.table_path("t"))
    assert wh.exists("t")
    assert _read_ids(wh, "t") == [1]
    wh.overwrite_snapshot(_df(spark, [(2, "upgraded")]), "t")
    assert _read_ids(wh, "t") == [2]
    flat = [
        f for f in os.listdir(wh.table_path("t")) if f.endswith(".parquet")
    ]
    assert flat == []


def test_append_tables_stay_plain(spark, tmp_path):
    """Append-only (metadata) tables keep the flat layout — new immutable
    files, no manifest — and stay directly readable at the table path."""
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.write(_df(spark, [(1, "a")]), "log", mode="append")
    wh.write(_df(spark, [(2, "b")]), "log", mode="append")
    assert wh.current_version("log") is None
    assert _read_ids(wh, "log") == [1, 2]
    direct = spark.read.parquet(wh.table_path("log"))
    assert sorted(r.id for r in direct.collect()) == [1, 2]


def _jobs(spark, fn):
    sc = spark.sparkContext
    group = f"snapshot-jobs-{os.getpid()}-{id(fn)}"
    sc.setJobGroup(group, "snapshot jobs")
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def test_commit_records_schema_and_read_plans_without_a_job(spark, tmp_path):
    """The manifest records the committed schema, nullable and with its
    field metadata, as Spark would infer it; a read (current or time
    travel) is pinned to it and runs no parquet-footer job."""
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame([(1, "a")], "id long not null, v string").select(
        "id", F.col("v").alias("v", metadata={"sql_type": "NVARCHAR(50)"})
    )
    wh.write(df, "t")
    wh.overwrite_snapshot(df, "t")
    with open(os.path.join(wh.table_path("t"), MANIFEST_NAME)) as fh:
        recorded = T.StructType.fromJson(json.load(fh)["schema"])
    inferred = spark.read.parquet(wh.data_path("t")).schema
    assert recorded == inferred
    assert [f.nullable for f in recorded] == [True, True]
    assert recorded["v"].metadata == {"sql_type": "NVARCHAR(50)"}
    for version in (None, 0):
        read, jobs = _jobs(spark, lambda: wh.read("t", version=version).schema)
        assert (read, jobs) == (recorded, 0)


def _drop_recorded_schemas(table_dir):
    """Rewrite a table's manifests as they were before the schema field."""
    hdir = os.path.join(table_dir, HISTORY_DIR)
    paths = [os.path.join(table_dir, MANIFEST_NAME)] + [
        os.path.join(hdir, f) for f in os.listdir(hdir)
    ]
    for p in paths:
        with open(p) as fh:
            m = json.load(fh)
        m.pop("schema")
        with open(p, "w") as fh:
            json.dump(m, fh)


def test_manifest_without_schema_reads_merges_commits_and_time_travels(
    spark, tmp_path
):
    """A table committed before manifests recorded a schema reads through
    inference, merges, commits (the new manifest records one) and time
    travels back to its old versions."""
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"), keep_history=3)
    wh.write(_df(spark, [(1, "a"), (2, "b")]), "t")
    wh.overwrite_snapshot(_df(spark, [(1, "a"), (2, "b"), (3, "c")]), "t")
    _drop_recorded_schemas(wh.table_path("t"))

    table = wh.table("t", ["id"])
    assert table.schema().simpleString() == "struct<id:bigint,v:string>"
    counts = table.merge(_df(spark, [(2, "B"), (4, "d")]))
    assert (counts.inserted, counts.updated) == (1, 1)
    assert sorted(map(tuple, wh.read("t").collect())) == [
        (1, "a"), (2, "B"), (3, "c"), (4, "d"),
    ]
    with open(os.path.join(wh.table_path("t"), MANIFEST_NAME)) as fh:
        assert json.load(fh)["version_id"] == 2
    assert wh.read("t").schema == spark.read.parquet(wh.data_path("t")).schema
    assert _read_ids(wh, "t") == [1, 2, 3, 4]
    assert sorted(r.id for r in wh.read("t", version=0).collect()) == [1, 2]
    assert sorted(r.id for r in wh.read("t", version=1).collect()) == [1, 2, 3]


def _file_schemas(spark, path):
    return {
        f: {c.name: c.dataType for c in spark.read.parquet(f).schema}
        for f in _parquet_files(path)
    }


def test_append_never_contradicts_the_recorded_schema(spark, tmp_path):
    """An append adds files to the current version under the same
    manifest: one whose columns or types differ is refused (the pinned
    scan would misread it), and every data file agrees with the
    recorded schema after matching appends, plain or through
    append_evolve."""
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.write(_df(spark, [(1, "a")]), "t")
    version = wh.current_version("t")
    for bad in (
        spark.createDataFrame([(2, "b")], "id int, v string"),
        spark.createDataFrame([(2, "b", 1.0)], "id long, v string, x double"),
        spark.createDataFrame([(2,)], "id long"),
    ):
        with pytest.raises(SchemaEvolutionError, match="does not match its schema"):
            wh.write(bad, "t", mode="append")
    # same columns and types; nullability and column order are free
    wh.write(spark.createDataFrame([("b", 2)], "v string, id long not null"), "t",
             mode="append")
    assert wh.append_evolve(_df(spark, [(3, "c")]), "t")["rewrite"] is False
    assert wh.current_version("t") == version
    with open(os.path.join(wh.table_path("t"), MANIFEST_NAME)) as fh:
        recorded = T.StructType.fromJson(json.load(fh)["schema"])
    want = {c.name: c.dataType for c in recorded}
    files = _file_schemas(spark, wh.data_path("t"))
    assert len(files) >= 3 and all(cols == want for cols in files.values())
    assert _read_ids(wh, "t") == [1, 2, 3]


def test_fail_mode_respects_versioned_existence(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.write(_df(spark, [(1, "a")]), "t", mode="fail")
    with pytest.raises(TableExistsError):
        wh.write(_df(spark, [(2, "b")]), "t", mode="fail")


def _parquet_files(path):
    return [
        os.path.join(dp, f)
        for dp, _d, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]


def test_compact_reduces_files_preserves_rows_and_versions(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"), keep_versions=2)
    df = spark.range(5000).toDF("v").repartition(16)
    wh.write(df, "t_many", mode="drop_recreate")
    before_version = wh.current_version("t_many")
    assert len(_parquet_files(wh.data_path("t_many"))) == 16

    got = wh.compact("t_many", target_file_mb=256)
    assert got is not None and got != before_version
    after = _parquet_files(wh.data_path("t_many"))
    assert len(after) == 1  # 5000 longs << 256 MB
    assert sorted(r.v for r in wh.read("t_many").collect()) == list(range(5000))
    # previous version retained for in-flight readers (keep_versions=2)
    versions = [
        d for d in os.listdir(wh.table_path("t_many")) if d.startswith("v_")
    ]
    assert before_version in versions


def test_compact_noop_when_already_compact(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.write(spark.range(100).toDF("v").coalesce(1), "t_one")
    v = wh.current_version("t_one")
    assert wh.compact("t_one") is None
    assert wh.current_version("t_one") == v


def test_snapshot_time_travel_read_and_rotation(spark, tmp_path):
    """ParquetWarehouse time travel (round 4, mirroring BucketedTable):
    read(name, version=k) serves the k-th committed snapshot; history
    rotation releases old version dirs; GC never deletes a dir a
    retained manifest references."""
    import pytest

    from nspc_etl_basic_spark.sinks.writer import ParquetWarehouse

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"), keep_versions=1,
                          keep_history=3)
    for k in range(5):
        df = spark.createDataFrame(
            [(i, k) for i in range(10 + k)], "id long, gen long"
        )
        wh.overwrite_snapshot(df, "t")

    vids = [v["version_id"] for v in wh.versions("t")]
    assert vids == [2, 3, 4]

    assert wh.read("t").count() == 14  # current = gen 4
    as_of_2 = wh.read("t", version=2)
    assert as_of_2.count() == 12
    assert {r.gen for r in as_of_2.collect()} == {2}

    with pytest.raises(FileNotFoundError, match="not retained"):
        wh.read("t", version=0)


def test_vacuum_reclaims_history_and_keeps_current(spark, tmp_path):
    import os

    import pytest

    from nspc_etl_basic_spark.sinks.writer import ParquetWarehouse

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"), keep_versions=5,
                          keep_history=5)
    for k in range(4):
        df = spark.createDataFrame(
            [(i, k) for i in range(10 + k)], "id long, gen long"
        )
        wh.overwrite_snapshot(df, "t")
    table_dir = wh.table_path("t")
    n_dirs_before = sum(
        1 for d in os.listdir(table_dir) if d.startswith("v_")
    )
    assert n_dirs_before == 4

    stats = wh.vacuum("t", retain_versions=1)
    assert stats["removed_dirs"] == 3
    assert stats["bytes_reclaimed"] > 0
    assert stats["retained_versions"] == 1

    # current snapshot intact, vacuumed versions no longer readable
    assert wh.read("t").count() == 13
    assert {r.gen for r in wh.read("t").collect()} == {3}
    with pytest.raises(FileNotFoundError, match="not retained"):
        wh.read("t", version=0)
    n_dirs_after = sum(
        1 for d in os.listdir(table_dir) if d.startswith("v_")
    )
    assert n_dirs_after == 1

    # idempotent: nothing left to remove
    again = wh.vacuum("t", retain_versions=1)
    assert again["removed_dirs"] == 0 and again["bytes_reclaimed"] == 0


def test_vacuum_retain_two_keeps_time_travel_window(spark, tmp_path):
    from nspc_etl_basic_spark.sinks.writer import ParquetWarehouse

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"), keep_versions=4,
                          keep_history=4)
    for k in range(4):
        df = spark.createDataFrame([(k,)], "gen long")
        wh.overwrite_snapshot(df, "t")
    wh.vacuum("t", retain_versions=2)
    vids = [v["version_id"] for v in wh.versions("t")]
    assert vids == [2, 3]
    assert wh.read("t", version=2).collect()[0].gen == 2


def test_vacuum_validates_and_handles_missing_table(spark, tmp_path):
    import pytest

    from nspc_etl_basic_spark.sinks.writer import ParquetWarehouse

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    assert wh.vacuum("nope")["removed_dirs"] == 0
    with pytest.raises(ValueError):
        wh.vacuum("nope", retain_versions=0)
