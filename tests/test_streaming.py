"""Structured Streaming: availableNow directory ingest (checkpointed,
exactly-once across restarts), watermarked windowed aggregation, and
stateful sessionization — each checked against its batch twin."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nspc_etl_basic_spark.streaming import (
    run_available_now,
    sessionize_stateful,
    stream_directory,
    windowed_agg,
)

CSV_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
    ]
)


def test_ingest_available_now_exactly_once(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    (src / "a.csv").write_text("id,name\n1,a\n2,b\n")
    (src / "b.csv").write_text("id,name\n3,c\n")

    sink = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    df = stream_directory(spark, str(src), CSV_SCHEMA, fmt="csv")
    run_available_now(df, sink, ckpt)
    assert spark.read.parquet(sink).count() == 3

    # restart with one new file: only the new file is processed (the
    # checkpoint log is the reference's completed-files anti-join, D3)
    (src / "c.csv").write_text("id,name\n4,d\n5,e\n")
    df2 = stream_directory(spark, str(src), CSV_SCHEMA, fmt="csv")
    run_available_now(df2, sink, ckpt)
    out = spark.read.parquet(sink)
    assert out.count() == 5
    assert out.select(F.count_distinct("id")).collect()[0][0] == 5


def test_windowed_agg_stream_matches_batch(spark, tmp_path):
    rows = [
        (1, datetime.datetime(2024, 1, 1, 0, 5), "click", 1.0),
        (2, datetime.datetime(2024, 1, 1, 0, 55), "click", 2.0),
        (3, datetime.datetime(2024, 1, 1, 1, 5), "click", 4.0),
        (4, datetime.datetime(2024, 1, 1, 1, 10), "view", 8.0),
    ]
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    batch = spark.createDataFrame(rows, schema)
    src = tmp_path / "ev"
    batch.coalesce(1).write.parquet(str(src))

    stream = spark.readStream.schema(schema).parquet(str(src))
    agg = windowed_agg(stream, window="1 hour", watermark="2 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["window"]["start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("select * from win_out").collect()
    }
    expected = {
        (datetime.datetime(2024, 1, 1, 0, 0), "click"): (2, 3.0),
        (datetime.datetime(2024, 1, 1, 1, 0), "click"): (1, 4.0),
        (datetime.datetime(2024, 1, 1, 1, 0), "view"): (1, 8.0),
    }
    assert got == expected


def test_windowed_append_drops_late_rows_across_restart(spark, tmp_path):
    """Watermark semantics under restart: the watermark persists in the
    checkpoint, so a row arriving in a later run but event-timed BEFORE the
    persisted watermark is dropped — finalized windows never change. This
    is the bounded-state contract that makes event-time aggregation viable
    at 100 TB/day: state for closed windows is reclaimed, not kept forever
    on the chance of stragglers."""
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    src = tmp_path / "late_src"
    src.mkdir()
    out = str(tmp_path / "late_out")
    ckpt = str(tmp_path / "late_ckpt")

    def run(rows, fname):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / fname)
        )
        stream = spark.readStream.schema(schema).option(
            "recursiveFileLookup", "true"
        ).parquet(str(src))
        agg = windowed_agg(stream, window="1 hour", watermark="1 hour")
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # run 1: event at 00:05 plus a 03:00 event that drives the watermark
    # to 02:00, closing the [00:00, 01:00) window
    run(
        [
            (1, datetime.datetime(2024, 1, 1, 0, 5), "click", 1.0),
            (2, datetime.datetime(2024, 1, 1, 3, 0), "click", 2.0),
        ],
        "b1",
    )
    # run 2: a LATE row event-timed 00:30 (< persisted watermark 02:00 —
    # must be dropped) and a fresh 05:00 row that closes the 03:00 window
    run(
        [
            (3, datetime.datetime(2024, 1, 1, 0, 30), "click", 100.0),
            (4, datetime.datetime(2024, 1, 1, 5, 0), "click", 4.0),
        ],
        "b2",
    )

    got = {
        r["window"]["start"]: (r["n_events"], r["sum_value"])
        for r in spark.read.parquet(out).collect()
    }
    assert got == {
        # late row did NOT bump the finalized 00:00 window
        datetime.datetime(2024, 1, 1, 0, 0): (1, 1.0),
        datetime.datetime(2024, 1, 1, 3, 0): (1, 2.0),
        # the 05:00 window is still open (watermark 04:00), so absent
    }


def test_sessionize_stateful_emits_closed_sessions(spark, tmp_path):
    # user 7: two sessions separated by > 30 min; the second session stays
    # open until the watermark passes its timeout — a later third burst
    # advances event time far enough to close both.
    rows = [
        (7, datetime.datetime(2024, 1, 1, 0, 0)),
        (7, datetime.datetime(2024, 1, 1, 0, 10)),
        (7, datetime.datetime(2024, 1, 1, 1, 0)),
        (7, datetime.datetime(2024, 1, 1, 5, 0)),
        (9, datetime.datetime(2024, 1, 1, 6, 0)),
    ]
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    src = tmp_path / "sess"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(src))

    stream = spark.readStream.schema(schema).parquet(str(src))
    sessions = sessionize_stateful(stream, gap="30 minutes", watermark="0 seconds")
    q = (
        sessions.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r.user_id, r.session_start, r.n_events)
        for r in spark.sql("select * from sess_out").collect()
    )
    # user 7's first two sessions close within the batch; the 05:00 session
    # closes via event-time timeout (watermark reaches 06:00 > 05:30).
    # User 9's 06:00 session is still open (timeout 06:30 > watermark).
    assert got == [
        (7, datetime.datetime(2024, 1, 1, 0, 0), 2),
        (7, datetime.datetime(2024, 1, 1, 1, 0), 1),
        (7, datetime.datetime(2024, 1, 1, 5, 0), 1),
    ]


def test_sessionize_stateful_preserves_microseconds(spark, tmp_path):
    """Precision contract: session bounds round-trip the full microsecond
    tail through state + Arrow emission (the corpus carries sub-ms residue;
    an ms-floored state silently shifted emitted bounds — CORRECTNESS_r06)."""
    us = lambda *a, **kw: datetime.datetime(*a, **kw)  # noqa: E731
    rows = [
        # one session with µs residue on both endpoints, closed by a
        # far-future burst that advances the watermark
        (3, us(2024, 1, 1, 0, 0, 0, 729045)),
        (3, us(2024, 1, 1, 0, 10, 0, 123456)),
        (3, us(2024, 1, 1, 9, 0, 0, 1)),
    ]
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    src = tmp_path / "sess_us"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(src))

    stream = spark.readStream.schema(schema).parquet(str(src))
    sessions = sessionize_stateful(stream, gap="30 minutes", watermark="0 seconds")
    q = (
        sessions.writeStream.format("memory")
        .queryName("sess_us_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.sql("select * from sess_us_out").collect()
    )
    assert got == [
        (
            3,
            us(2024, 1, 1, 0, 0, 0, 729045),
            us(2024, 1, 1, 0, 10, 0, 123456),
            2,
        )
    ]


def test_stream_dedup_exact_first_wins(spark, tmp_path):
    """Streaming exact dedup: only the first occurrence of each distinct
    content survives; state keys are content hashes, bounded by the
    watermark horizon."""
    from nspc_etl_basic_spark.streaming import stream_dedup_exact

    rows = [
        (1, datetime.datetime(2024, 1, 1, 0, 0), "hello world"),
        (2, datetime.datetime(2024, 1, 1, 0, 1), "hello world"),  # dup of 1
        (3, datetime.datetime(2024, 1, 1, 0, 2), "fresh text"),
        (4, datetime.datetime(2024, 1, 1, 0, 3), "fresh text"),  # dup of 3
        (5, datetime.datetime(2024, 1, 1, 0, 4), "unique"),
    ]
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("text", T.StringType()),
        ]
    )
    src = tmp_path / "docs"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(src))

    stream = spark.readStream.schema(schema).parquet(str(src))
    deduped = stream_dedup_exact(stream, watermark="1 hour")
    sink = str(tmp_path / "out")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.read.parquet(sink).collect()
    assert sorted(r.doc_id for r in out) == [1, 3, 5]
    assert sorted(r.text for r in out) == ["fresh text", "hello world", "unique"]


def test_stream_dedup_keys_across_restart(spark, tmp_path):
    """Key-dedup state persists in the checkpoint: a key seen in run 1 is
    still suppressed in run 2 (within the watermark horizon)."""
    from nspc_etl_basic_spark.streaming import stream_dedup_keys

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    src = tmp_path / "keys"
    src.mkdir()
    sink = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = (
            stream_dedup_keys(stream, ["id"], watermark="1 day")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1, 0, 0)), (2, datetime.datetime(2024, 1, 1, 0, 1))],
        schema,
    ).coalesce(1).write.mode("append").parquet(str(src))
    run()
    spark.createDataFrame(
        [(2, datetime.datetime(2024, 1, 1, 0, 5)), (3, datetime.datetime(2024, 1, 1, 0, 6))],
        schema,
    ).coalesce(1).write.mode("append").parquet(str(src))
    run()
    out = spark.read.parquet(sink)
    assert sorted(r.id for r in out.collect()) == [1, 2, 3]


def _attr_rows():
    d = datetime.datetime
    views = [
        (1, d(2024, 1, 1, 9, 0), 10, "view"),
        (2, d(2024, 1, 1, 9, 40), 10, "view"),
        (3, d(2024, 1, 1, 8, 0), 10, "view"),   # > 1h before the purchase
        (4, d(2024, 1, 1, 9, 30), 20, "view"),  # other user
    ]
    purchases = [
        (100, d(2024, 1, 1, 10, 0), 10, "purchase"),
        (101, d(2024, 1, 1, 10, 0), 30, "purchase"),  # no views at all
    ]
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    return views, purchases, schema


def test_stream_stream_attribution_join_matches_batch(spark, tmp_path):
    from nspc_etl_basic_spark.streaming import attribution_join

    views, purchases, schema = _attr_rows()
    vdir, pdir = tmp_path / "views", tmp_path / "purchases"
    spark.createDataFrame(views, schema).coalesce(1).write.parquet(str(vdir))
    spark.createDataFrame(purchases, schema).coalesce(1).write.parquet(str(pdir))

    # batch twin: same operator, watermarks are no-ops on batch frames
    batch = attribution_join(
        spark.read.parquet(str(pdir)),
        spark.read.parquet(str(vdir)),
        on_key="user_id", max_lag="1 hour",
    )
    expected = sorted(
        (r.event_id, r.event_id_r) for r in batch.collect()
    )
    assert expected == [(100, 1), (100, 2)]  # 8:00 view and user-20/30 excluded

    ps = spark.readStream.schema(schema).parquet(str(pdir))
    vs = spark.readStream.schema(schema).parquet(str(vdir))
    joined = attribution_join(ps, vs, on_key="user_id", max_lag="1 hour")
    q = (
        joined.writeStream.format("memory")
        .queryName("attr_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r.event_id, r.event_id_r)
        for r in spark.sql("select * from attr_out").collect()
    )
    assert got == expected


def test_stream_stream_join_requires_supported_how(spark):
    from nspc_etl_basic_spark.streaming import attribution_join

    views, purchases, schema = _attr_rows()
    l = spark.createDataFrame(purchases, schema)
    r = spark.createDataFrame(views, schema)
    with pytest.raises(ValueError):
        attribution_join(l, r, on_key="user_id", how="fullOuter")


def test_stream_stream_left_outer_null_extends_unmatched(spark, tmp_path):
    from nspc_etl_basic_spark.streaming import attribution_join

    views, purchases, schema = _attr_rows()
    l = spark.createDataFrame(purchases, schema)
    r = spark.createDataFrame(views, schema)
    out = attribution_join(l, r, on_key="user_id", how="leftOuter")
    rows = sorted(
        ((r.event_id, r.event_id_r) for r in out.collect()),
        key=lambda t: (t[0], t[1] if t[1] is not None else -1),
    )
    assert rows == [(100, 1), (100, 2), (101, None)]


UPSERT_SCHEMA = T.StructType(
    [
        T.StructField("pk", T.LongType()),
        T.StructField("val", T.StringType()),
        T.StructField("seq", T.LongType()),
    ]
)


def _stream_table(spark, tmp_path, layout):
    """A fresh ``layout`` table keyed on ``pk`` and a reader of its rows."""
    if layout == "snapshot":
        from nspc_etl_basic_spark.sinks.writer import ParquetWarehouse

        wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
        return wh.table("t_stream", ["pk"]), lambda: wh.read("t_stream")
    if layout == "bucketed":
        from nspc_etl_basic_spark.sinks.bucketed_merge import BucketedTable

        table = BucketedTable(spark, str(tmp_path / "bt"), ["pk"], n_buckets=16)
        return table, table.read
    from nspc_etl_basic_spark.sinks.jdbc_merge import JdbcTable

    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    url = f"jdbc:derby:{tmp_path}/sdb;create=true"
    table = JdbcTable(spark, url, "t_sj", ["pk"], options={"driver": driver})
    return table, lambda: (
        spark.read.format("jdbc").option("url", url).option("dbtable", "t_sj")
        .option("driver", driver).load()
    )


@pytest.mark.parametrize("layout", ["snapshot", "bucketed", "jdbc"])
def test_stream_upsert_merges_microbatches_exactly_once(spark, tmp_path, layout):
    """``run_stream_upsert`` into every layout's owner: a fresh table,
    in-batch last-wins on ``seq``, a checkpointed no-op re-drain, a
    restart that processes only the new file, and a lost checkpoint
    whose full replay converges to the same rows (keyed merge plus the
    content tie-break make redelivery idempotent). A bucketed merge
    rewrites only the buckets its keys hash to."""
    import json
    import os
    import shutil

    from nspc_etl_basic_spark.sinks.bucketed_merge import MANIFEST
    from nspc_etl_basic_spark.streaming.ingest import (
        run_stream_upsert,
        stream_directory,
    )

    src = tmp_path / "in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    table, read = _stream_table(spark, tmp_path, layout)

    def add_file(rows):
        spark.createDataFrame(rows, UPSERT_SCHEMA).coalesce(1).write.parquet(
            str(src), mode="append"
        )

    def drain():
        stream = stream_directory(spark, str(src), UPSERT_SCHEMA, fmt="parquet")
        run_stream_upsert(stream, table, ckpt, dedup_order_col="seq")

    def state():
        rows = read().collect()
        return len(rows), {r.pk: r.val for r in rows}

    def bucket_versions():
        if layout != "bucketed":
            return {}
        with open(os.path.join(table.path, MANIFEST), encoding="utf-8") as fh:
            return json.load(fh)["buckets"]

    # into a fresh table
    add_file([(i, "base", 0) for i in range(100)])
    drain()
    n, got = state()
    assert n == len(got) == 100
    v0 = set(bucket_versions().values())

    # in-batch last-wins on seq; untouched keys keep their rows
    add_file([(1, "a", 1), (2, "b", 2), (2, "b2", 3), (200, "n200", 3)])
    drain()
    n, got = state()
    assert n == len(got) == 101
    assert (got[1], got[2], got[200], got[5]) == ("a", "b2", "n200", "base")
    if layout == "bucketed":
        m1 = bucket_versions()
        new_vs = set(m1.values()) - v0
        assert len(new_vs) == 1  # one commit
        flipped = [b for b, v in m1.items() if v in new_vs]
        assert 1 <= len(flipped) <= 3  # only the 3 keys' buckets

    # checkpointed: a re-drain with nothing new is a no-op
    before = (n, got), bucket_versions()
    drain()
    assert (state(), bucket_versions()) == before

    # restart with a new file: only it is processed
    add_file([(1, "a9", 9), (3, "c", 10), (201, "n201", 10)])
    drain()
    n, got = state()
    assert n == len(got) == 102
    assert (got[1], got[2], got[3], got[201]) == ("a9", "b2", "c", "n201")

    # checkpoint lost: the full replay converges to the identical state
    shutil.rmtree(ckpt)
    drain()
    assert state() == (n, got)


def test_stream_upsert_dedup_tiebreak_is_deterministic(spark, tmp_path):
    """Rows tied on the dedup order column must resolve by content, not
    partition luck: a replayed micro-batch after a crash between the data
    commit and the checkpoint write must pick the SAME winner or the
    idempotence argument breaks."""
    from pyspark.sql import types as T

    from nspc_etl_basic_spark.sinks.writer import ParquetWarehouse
    from nspc_etl_basic_spark.streaming.ingest import (
        run_stream_upsert,
        stream_directory,
    )

    schema = T.StructType(
        [
            T.StructField("pk", T.LongType()),
            T.StructField("val", T.StringType()),
            T.StructField("seq", T.LongType()),
        ]
    )
    src = tmp_path / "in"
    src.mkdir()
    # two rows tied on (pk, seq) across DIFFERENT files (so partition
    # arrival order is not fixed); content tie-break picks val desc
    spark.createDataFrame([(1, "alpha", 5)], schema).coalesce(1).write.parquet(
        str(src), mode="append"
    )
    spark.createDataFrame([(1, "zeta", 5)], schema).coalesce(1).write.parquet(
        str(src), mode="append"
    )

    results = []
    for attempt in ("a", "b"):  # fresh checkpoint ⇒ full replay
        wh = ParquetWarehouse(spark, str(tmp_path / f"wh_{attempt}"))
        stream = stream_directory(spark, str(src), schema, fmt="parquet")
        run_stream_upsert(
            stream,
            wh.table("t", ["pk"]),
            str(tmp_path / f"ckpt_{attempt}"),
            dedup_order_col="seq",
        )
        results.append({r.pk: r.val for r in wh.read("t").collect()})
    assert results[0] == results[1] == {1: "zeta"}


def test_stream_upsert_cdc_feed_exactly_once(spark, tmp_path):
    """CDC streaming upsert: the change feed records each batch's
    insert/update legs exactly once, tagged by batch, and the snapshot
    matches the plain streaming upsert semantics."""
    from nspc_etl_basic_spark.sinks.writer import ParquetWarehouse
    from nspc_etl_basic_spark.streaming.ingest import (
        run_stream_upsert_cdc,
        stream_directory,
    )

    schema = T.StructType(
        [
            T.StructField("pk", T.LongType()),
            T.StructField("val", T.StringType()),
            T.StructField("seq", T.LongType()),
        ]
    )
    src = tmp_path / "in"
    src.mkdir()
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = stream_directory(
            spark, str(src), schema, fmt="parquet", options={}
        )
        run_stream_upsert_cdc(
            stream, wh, "t_cdc", ["pk"], ckpt, dedup_order_col="seq"
        )

    spark.createDataFrame(
        [(1, "a", 1), (2, "b", 2)], schema
    ).coalesce(1).write.parquet(str(src), mode="append")
    drain()
    feed = [
        (r.op, r.pk, r.val)
        for r in wh.read("t_cdc_changes").orderBy("pk", "op").collect()
    ]
    assert feed == [("insert", 1, "a"), ("insert", 2, "b")]

    # update pk=2, insert pk=3 -> one pre/post pair + one insert
    spark.createDataFrame([(2, "B", 5), (3, "c", 6)], schema).coalesce(
        1
    ).write.parquet(str(src), mode="append")
    drain()
    rows = wh.read("t_cdc_changes").collect()
    by_op = {}
    for r in rows:
        by_op.setdefault(r.op, []).append((r.pk, r.val))
    assert sorted(by_op["insert"]) == [(1, "a"), (2, "b"), (3, "c")]
    assert by_op["update_preimage"] == [(2, "b")]
    assert by_op["update_postimage"] == [(2, "B")]
    assert {r.pk: r.val for r in wh.read("t_cdc").collect()} == {
        1: "a", 2: "B", 3: "c"
    }

    # batch ids distinguish the two drains; an empty re-drain adds nothing
    n_rows = len(rows)
    assert len({r.batch_id for r in rows}) == 2
    drain()
    assert wh.read("t_cdc_changes").count() == n_rows


def test_stream_novelty_first_seen_attribution(spark, tmp_path):
    """Two micro-batches: a gram shared across both attributes to the
    FIRST batch; the second batch's novelty counts only its fresh gram."""
    from nspc_etl_basic_spark.streaming.novelty import (
        gram_store_table,
        novelty_from_store,
        run_stream_novelty,
    )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    src = tmp_path / "nov_src"
    store = gram_store_table(spark, str(tmp_path / "nov_store"), n_buckets=4)
    ckpt = str(tmp_path / "nov_ckpt")

    def drain(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        stream = spark.readStream.schema(schema).parquet(str(src))
        run_stream_novelty(stream, store, ckpt)

    drain([(1, "the quick brown fox")])          # grams: tqb, qbf
    drain([(2, "the quick brown cat and dog")])  # tqb(seen), qbc, bca, cad

    rep = {
        r["batch_id"]: r for r in novelty_from_store(store).collect()
    }
    assert len(rep) == 2
    b0, b1 = (rep[k] for k in sorted(rep))
    assert (b0["n_instances"], b0["n_distinct"], b0["n_new"]) == (2, 2, 2)
    assert b0["novelty_frac"] == 1.0
    assert (b1["n_instances"], b1["n_distinct"], b1["n_new"]) == (4, 4, 3)
    assert b1["novelty_frac"] == 0.75


def test_sessionize_state_version_rejects_old_checkpoints():
    # A ms-era (v=1 / unversioned) checkpoint restoring into µs
    # arithmetic must fail fast, never emit 1970-era bounds.
    import pytest as _pytest

    from nspc_etl_basic_spark.streaming.sessionize import (
        STATE_SCHEMA,
        STATE_VERSION,
        _require_version,
    )

    assert STATE_SCHEMA.fieldNames()[0] == "v"  # arity break vs ms-era
    _require_version(STATE_VERSION)
    with _pytest.raises(ValueError, match="incompatible build"):
        _require_version(1)
