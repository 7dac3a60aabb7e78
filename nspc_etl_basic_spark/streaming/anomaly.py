"""Streaming anomaly detection: z-score each micro-batch against the
corpus-to-date distribution, accumulating sufficient statistics in a
replay-safe keyed store.

The batch operator's (n, Σx, Σx²) statistics are mergeable plain sums,
so streaming accumulation is exact — no sketch error, no decay (callers
wanting a sliding reference window can GC old ``batch_id`` rows; the
store keys make that a keyed delete). Store rows key by
``(group, batch_id)`` in a bucketed differential table — the same
replay-safety scheme as the streaming span-dedup gram store: a
re-delivered micro-batch overwrites its own rows (last-wins) instead of
double-adding, and the batch's reference read EXCLUDES its own
batch_id so replay scores against the identical pre-batch state.

Scoring uses prior + current-batch statistics combined (the batch's own
values shape the distribution they are scored against, matching the
batch operator's semantics on the concatenated corpus so far).

Scale: per micro-batch this adds one map-side aggregate over the batch,
a metadata-sized store read (groups x batches rows), one broadcast
re-attach, and a bucket-pruned keyed merge. The scored corpus never
re-reads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nspc_etl_basic_spark.operators.anomaly import (
    moments,
    sufficient_stats,
    zscore_against,
)
from nspc_etl_basic_spark.sinks.bucketed_merge import BucketedTable
from nspc_etl_basic_spark.streaming.ingest import drain


def stats_store_table(
    spark, path: str, group_col: str, n_buckets: int = 16
) -> BucketedTable:
    """The persisted stats store: (group, batch_id) -> (n, s1, s2)."""
    return BucketedTable(
        spark, path, [group_col, "batch_id"], n_buckets=n_buckets
    )


def run_stream_anomaly(
    df: DataFrame,
    store: BucketedTable,
    out_path: str,
    checkpoint_path: str,
    group_col: str,
    value_col: str,
    threshold: float = 3.0,
    query_name: str = "stream_anomaly",
):
    """Drain an AvailableNow stream through accumulated z-score scoring;
    flagged rows append to ``out_path`` (parquet)."""

    def _score_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_stats = sufficient_stats(batch_df, group_col, value_col)
        if store.exists():
            prior = store.read().where(
                F.col("batch_id") != int(batch_id)
            ).select(group_col, "_n", "_s1", "_s2")
            combined = (
                prior.unionByName(batch_stats)
                .groupBy(group_col)
                .agg(
                    F.sum("_n").alias("_n"),
                    F.sum("_s1").alias("_s1"),
                    F.sum("_s2").alias("_s2"),
                )
            )
        else:
            combined = batch_stats
        outliers = zscore_against(
            batch_df, moments(combined, group_col), group_col, value_col,
            threshold,
        ).withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
        # at-least-once window: a crash between this append and the
        # checkpoint commit re-appends the SAME rows on replay (scoring
        # is identical — the store read excludes this batch_id). The
        # batch_id column makes downstream dedup a keyed drop; or land
        # out_path in a keyed sink
        outliers.write.mode("append").parquet(out_path)

        keyed = batch_stats.select(
            group_col,
            F.lit(int(batch_id)).cast("long").alias("batch_id"),
            "_n", "_s1", "_s2",
        )
        store.merge(keyed)  # initializes the table when absent

    writer = df.writeStream.foreachBatch(_score_batch)
    return drain(writer, checkpoint_path, query_name)
