"""Streaming directory ingest — the idiomatic Spark upgrade of the
reference's checkpointed batch loop (SURVEY.md §2 J / §7.1 M7).

The reference polls a directory, anti-joins against a completed-files
statistics table (D3, loader.py:231-251), retries, and resumes batches
within 24 h (D4, loader.py:170-229). Structured Streaming's file source IS
that loop, hardened: the checkpoint log records processed files exactly
once, ``Trigger.AvailableNow`` gives the drain-then-stop batch semantics,
and ``maxFilesPerTrigger`` bounds per-micro-batch work.

Scale: the file-source listing is incremental; each micro-batch is a
normal Catalyst-planned job, so everything in operators/ composes
unchanged over ``readStream`` inputs.

Keyed sinks merge only through a layout's upsert owner (sinks/writer.py):
``run_stream_upsert`` takes any of the three; the CDC and MV sinks merge
through the snapshot owner, reusing the read their change feed comes from.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter

from nspc_etl_basic_spark.materialize import scope


def stream_directory(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    fmt: str = "csv",
    options: dict | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """``readStream`` over a directory. Streaming sources require an
    explicit schema — pass the inference result from a representative file
    (operators.schema_inference.infer_schema on a batch read)."""
    reader = spark.readStream.format(fmt).schema(schema)
    if fmt in ("csv", "psv"):
        reader = reader.option("header", True)
    if fmt == "psv":
        reader = reader.format("csv").option("sep", "|")
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def run_available_now(
    df: DataFrame,
    sink_path: str,
    checkpoint_path: str,
    fmt: str = "parquet",
    output_mode: str = "append",
    query_name: str = "ingest",
):
    """Drain all currently-available input into a file sink, then stop
    — the exact semantics of the reference's one-shot directory batch
    (process all pending files, checkpoint each). Returns the finished
    StreamingQuery."""
    writer = (
        df.writeStream.format(fmt)
        .option("path", sink_path)
        .outputMode(output_mode)
    )
    return drain(writer, checkpoint_path, query_name)


def drain(writer: DataStreamWriter, checkpoint_path: str, query_name: str):
    """Start ``writer`` under an AvailableNow trigger with its checkpoint
    and query name, wait until every currently-available input has been
    processed, and return the finished StreamingQuery. The one drain
    every streaming facade in this package runs through."""
    q = (
        writer.option("checkpointLocation", checkpoint_path)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def _content_last_wins(
    batch_df: DataFrame, pk_cols: list[str], dedup_order_col: str | None
) -> DataFrame:
    """Deterministic within-batch PK dedup for streaming merges.

    Deliberately NOT operators.merge.dedup_last_wins: that contract keys
    on the reader's unique ``__seq`` (no ties possible); a stream batch
    has no such column, so the winner must be pinned by a CONTENT
    tie-break — otherwise a replayed batch after a crash between data
    commit and checkpoint write could pick a different row and break the
    merge-idempotence argument."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    tiebreak = [
        F.col(c).desc()
        for c in batch_df.columns
        if c not in pk_cols and c != dedup_order_col
    ]
    order = (
        [F.col(dedup_order_col).desc()] if dedup_order_col else []
    ) + tiebreak
    if not order:
        # pk-only schema: duplicate rows are identical — any pick is the
        # same row
        return batch_df.dropDuplicates(pk_cols)
    w = Window.partitionBy(*pk_cols).orderBy(*order)
    return (
        batch_df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def run_stream_upsert(
    df: DataFrame,
    table,
    checkpoint_path: str,
    dedup_order_col: str | None = None,
    query_name: str = "stream_upsert",
):
    """Continuous keyed upsert, the streaming twin of the H5/H6 path:
    each micro-batch is last-wins deduped on ``table.pk_cols`` (by
    ``dedup_order_col`` if given, then the content tie-break) and
    merged through ``table.merge``. ``table`` is any layout's owner:
    ``ParquetWarehouse.table(name, pk_cols)`` rewrites the snapshot per
    trigger (|table|, not |batch| — bound the rate with
    maxFilesPerTrigger); ``BucketedTable`` rewrites only the buckets the
    batch's keys touch; ``JdbcTable`` stages the batch and MERGEs
    server-side, so the target never transits Spark.

    Exactly-once: the checkpoint gives at-least-once delivery and the
    keyed merge is idempotent under replay of the same batch content, so
    a crash between the data commit and the checkpoint write converges
    to the same table state. Single writer per table.
    """

    def _merge_batch(batch_df: DataFrame, _batch_id: int) -> None:
        table.merge(_content_last_wins(batch_df, table.pk_cols, dedup_order_col))

    writer = df.writeStream.foreachBatch(_merge_batch)
    return drain(writer, checkpoint_path, query_name)


def run_stream_upsert_cdc(
    df: DataFrame,
    warehouse,
    table: str,
    pk_cols: list[str],
    checkpoint_path: str,
    dedup_order_col: str | None = None,
    query_name: str = "stream_upsert_cdc",
):
    """``run_stream_upsert`` plus a change-data-feed: every micro-batch
    also APPENDS its ``operators.merge.merge_changes`` rows — tagged
    with the batch id — to the append-only ``<table>_changes`` table,
    so downstream consumers (SCD2 folds, CDC export, cache
    invalidation) tail a feed instead of diffing snapshots.

    Idempotency: the snapshot merge is naturally idempotent under
    micro-batch replay, but an APPEND is not — so the feed write is
    guarded by the recorded ``batch_id`` high-water mark (the standard
    foreachBatch exactly-once recipe): a replayed batch whose id is
    already present in the feed skips the append and only re-runs the
    idempotent merge. Feed rows therefore appear exactly once per
    logical batch across crash/restart (pinned by the restart test).

    Scale: the feed legs are map-only broadcast semi/anti joins (the
    target never shuffles — see ``merge_changes``); the feed table is
    append-only and output-proportional. The high-water-mark read is a
    1-row max over the feed's column-pruned ``batch_id`` column.
    """
    from pyspark.sql import functions as F

    from nspc_etl_basic_spark.operators.merge import merge_changes

    changes_table = f"{table}_changes"

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        src = _content_last_wins(batch_df, pk_cols, dedup_order_col)
        feed_done = False
        if warehouse.exists(changes_table):
            hwm = (
                warehouse.read(changes_table)
                .agg(F.max("batch_id").alias("m"))
                .collect()[0]["m"]
            )
            feed_done = hwm is not None and int(hwm) >= int(batch_id)
        # per-batch scope: a long-running stream must not accumulate
        # one cached plan per micro-batch
        with scope():
            snapshot = warehouse.table(table, pk_cols)
            tgt = snapshot.read()  # the feed and the merge share this read
            if tgt is not None:
                feed = merge_changes(tgt, src, pk_cols)
            else:
                feed = src.select(F.lit("insert").alias("op"), "*")
            if not feed_done:
                warehouse.write(
                    feed.withColumn("batch_id", F.lit(int(batch_id))),
                    changes_table,
                    mode="append",
                )
            snapshot.merge(src)

    writer = df.writeStream.foreachBatch(_merge_batch)
    return drain(writer, checkpoint_path, query_name)
