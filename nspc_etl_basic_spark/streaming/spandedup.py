"""Streaming exact-substring span dedup: clean each micro-batch against
the accumulated gram store, then advance the store — continuous-ingest
boilerplate removal without ever rescanning written documents.

Exactly-once accounting for an ADDITIVE store is the interesting part:
gram counts are not idempotent under replay (re-merging a batch would
double-count), so the store keys rows by ``(gh, batch_id)`` in a
bucketed differential table. A re-delivered micro-batch (same
checkpointed batch_id) overwrites its own rows via the keyed last-wins
merge — idempotent — and reads aggregate ``sum(count) GROUP BY gh``.
Trickle batches rewrite only the buckets their grams touch.

Cleaned documents append as immutable parquet files (at-least-once
delivery makes file re-appends possible only when a crash lands between
the write and the checkpoint commit; downstream keyed sinks or the
batch dedup operators absorb that, same stance as the other ingest
sinks). Checkpoint LOSS (not restart) re-derives batch ids from zero —
rebuild the store alongside the checkpoint in that case; the module
keeps store and checkpoint lifecycles paired for exactly that reason.

Scale: per batch, the store-sized work is one bucket-pruned keyed merge
of (gh, batch_id, count) rows (16+8 bytes each) plus the batch-side
broadcast probe inside ``incremental_dedup_spans``; document text never
joins anything store-sized.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nspc_etl_basic_spark.operators.spandedup import incremental_dedup_spans
from nspc_etl_basic_spark.sinks.bucketed_merge import BucketedTable
from nspc_etl_basic_spark.streaming.ingest import drain


def gram_store_table(
    spark, path: str, n_buckets: int = 64
) -> BucketedTable:
    """The persisted gram store: (gh, batch_id) -> count, bucketed on gh."""
    return BucketedTable(spark, path, ["gh", "batch_id"], n_buckets=n_buckets)


def read_gram_counts(store: BucketedTable) -> DataFrame:
    """Collapse the per-batch rows to corpus-wide (gh, count)."""
    return store.read().groupBy("gh").agg(F.sum("count").alias("count"))


def run_stream_span_dedup(
    df: DataFrame,
    store: BucketedTable,
    out_path: str,
    checkpoint_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_count: int = 2,
    query_name: str = "stream_span_dedup",
):
    """Drain an AvailableNow document stream through incremental span
    dedup; cleaned docs append to ``out_path`` (parquet), gram counts
    land in ``store`` keyed by (gh, batch_id)."""

    def _dedup_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        if store.exists():
            # exclude THIS batch_id: a replayed batch (crash after the
            # store merge, before the checkpoint commit) must probe the
            # same pre-batch state it saw the first time, not its own
            # half-committed counts
            corpus_counts = (
                store.read()
                .where(F.col("batch_id") != int(batch_id))
                .groupBy("gh")
                .agg(F.sum("count").alias("count"))
            )
        else:
            corpus_counts = spark.createDataFrame([], "gh LONG, count LONG")
        cleaned, batch_counts = incremental_dedup_spans(
            batch_df, corpus_counts, text_col, id_col, n, min_count
        )
        cleaned.write.mode("append").parquet(out_path)
        keyed = batch_counts.select(
            "gh", F.lit(int(batch_id)).cast("long").alias("batch_id"), "count"
        )
        store.merge(keyed)  # initializes the table when absent

    writer = df.writeStream.foreachBatch(_dedup_batch)
    return drain(writer, checkpoint_path, query_name)
