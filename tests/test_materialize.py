"""The cache owner (``materialize.hold`` / ``materialize.scope``): scopes
release what they hold; the engine's cached paths leave Spark's
CacheManager empty once they return, and driver queries that return a
plan over held frames leave it empty under the runner's scope. The last
two tests guard the rule itself: only ``materialize.py`` caches, and no
function takes a ``caches`` list."""

from __future__ import annotations

import ast
import os
import threading

import pytest
from pyspark import StorageLevel

from nspc_etl_basic_spark import load_config
from nspc_etl_basic_spark.materialize import hold, scope

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cached(df) -> bool:
    return df.storageLevel != StorageLevel.NONE


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.fixture
def clean(spark):
    # the session fixture is shared: start from an empty CacheManager
    spark.catalog.clearCache()
    yield spark
    spark.catalog.clearCache()


def test_scope_releases_on_exit(clean):
    with scope():
        df = hold(clean.range(10))
        assert df.count() == 10 and _cached(df)
    assert not _cached(df)


def test_scope_releases_on_exception(clean):
    with pytest.raises(ValueError):
        with scope():
            df = hold(clean.range(10))
            raise ValueError("boom")
    assert not _cached(df)


def test_nested_scope_releases_only_its_own(clean):
    with scope():
        outer = hold(clean.range(10))
        with scope():
            inner = hold(clean.range(20))
        assert not _cached(inner)
        assert _cached(outer)
    assert not _cached(outer)


def test_hold_outside_scope_is_cache(clean):
    df = hold(clean.range(10))
    assert df.storageLevel == clean.range(30).cache().storageLevel
    clean.catalog.clearCache()


def test_other_threads_hold_outside_the_open_scope(clean):
    # a foreachBatch callback runs on its own thread: a scope open on
    # the driver's main thread must not own (or release) its frames
    got = []
    with scope():
        t = threading.Thread(target=lambda: got.append(hold(clean.range(5))))
        t.start()
        t.join(timeout=60)
        assert not t.is_alive()
    assert _cached(got[0])


def test_pagerank_releases_its_caches(clean):
    from nspc_etl_basic_spark.operators.graph import pagerank

    edges = clean.createDataFrame(
        [(1, 2, 1), (2, 3, 1), (3, 1, 1), (3, 4, 1)],
        "src long, dst long, weight long",
    )
    assert len(pagerank(edges, n_iter=2).collect()) == 4
    assert _cache_empty(clean)


def test_process_file_with_invalid_rows_releases_its_caches(clean, tmp_path):
    from nspc_etl_basic_spark.plans.pipeline import process_file

    def load(name, text, **loader):
        path = tmp_path / name
        path.write_text(text)
        cfg = load_config(
            overrides={
                "database": {"warehouse_path": str(tmp_path / "wh")},
                "loader": {
                    "table_mode": "upsert",
                    "primary_key_columns": ["id"],
                    **loader,
                },
                "override_table_name": "t",
            }
        )
        return process_file(clean, str(path), cfg, move_files=False)

    assert load("seed.csv", "id,v\n1,10\n2,20\n").status == "Completed"
    r = load("next.csv", "id,v\n2,22\n3,bad\n", transaction_mode="tolerant")
    assert (r.status, r.rows_failed) == ("Completed", 1)
    assert _cache_empty(clean)


def test_stream_upsert_cdc_batch_releases_its_caches(clean, tmp_path):
    from nspc_etl_basic_spark.sinks.writer import ParquetWarehouse
    from nspc_etl_basic_spark.streaming.ingest import (
        run_stream_upsert_cdc,
        stream_directory,
    )

    schema = "pk long, val string"
    wh = ParquetWarehouse(clean, str(tmp_path / "wh"))
    wh.overwrite_snapshot(clean.createDataFrame([(1, "a")], schema), "t")
    src = tmp_path / "in"
    clean.createDataFrame([(1, "A"), (2, "b")], schema).coalesce(1).write.parquet(
        str(src)
    )
    stream = stream_directory(clean, str(src), schema, fmt="parquet", options={})
    run_stream_upsert_cdc(stream, wh, "t", ["pk"], str(tmp_path / "ckpt"))
    assert {r.pk: r.val for r in wh.read("t").collect()} == {1: "A", 2: "b"}
    assert wh.read("t_changes").count() == 3  # pre/post of pk 1, insert of 2
    assert _cache_empty(clean)


def test_bucketed_merge_and_delete_release_their_caches(clean, tmp_path):
    from nspc_etl_basic_spark.sinks.bucketed_merge import BucketedTable

    t = BucketedTable(clean, str(tmp_path / "t"), ["id"], n_buckets=4)
    t.init(clean.createDataFrame([(i, "old") for i in range(20)], "id long, v string"))
    counts = t.merge(clean.createDataFrame([(3, "new"), (99, "ins")], "id long, v string"))
    assert (counts.inserted, counts.updated) == (1, 1)
    assert _cache_empty(clean)
    assert t.delete(clean.createDataFrame([(3,), (5,)], "id long")) == 2
    assert _cache_empty(clean)


@pytest.mark.parametrize(
    "qid",
    ["graph_triangles", "events_drift_chi2", "d5_merge_changes", "orders_bloom_prune"],
)
def test_driver_query_under_a_scope_releases_its_caches(clean, sf_dir, qid):
    """These queries return a lazy plan over frames they hold, so the
    frames outlive the call; the runner's scope (``bench.py``, the
    parity tests) releases them once the result is read."""
    import __spark_entry__ as entry

    with scope():
        assert entry.queries()[qid](clean, sf_dir).collect() is not None
        assert not _cache_empty(clean)
    assert _cache_empty(clean)


def _engine_sources():
    pkg = os.path.join(REPO, "nspc_etl_basic_spark")
    for root, _, files in os.walk(pkg):
        for f in sorted(files):
            if f.endswith(".py"):
                yield os.path.join(root, f)
    yield os.path.join(REPO, "__spark_entry__.py")


def test_only_materialize_caches():
    owner = os.path.join(REPO, "nspc_etl_basic_spark", "materialize.py")
    found = []
    for path in _engine_sources():
        if path == owner:
            continue
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), path)
        found += [
            f"{os.path.relpath(path, REPO)}:{n.lineno} .{n.func.attr}("
            for n in ast.walk(tree)
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr in ("cache", "persist")
        ]
    assert not found, "cache through materialize.hold: " + ", ".join(found)


def test_no_function_takes_a_caches_list():
    found = []
    for path in _engine_sources():
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), path)
        for n in ast.walk(tree):
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                a = n.args
                names = [x.arg for x in a.posonlyargs + a.args + a.kwonlyargs]
                names += [x.arg for x in (a.vararg, a.kwarg) if x is not None]
                if "caches" in names:
                    found.append(f"{os.path.relpath(path, REPO)}:{n.lineno}")
    assert not found, "a scope owns cached frames, not a caller list: " + ", ".join(found)
