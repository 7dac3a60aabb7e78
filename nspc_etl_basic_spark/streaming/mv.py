"""Streaming incremental materialized-view maintenance.

The streaming twin of ``operators/mv.py``: a keyed upsert stream keeps
BOTH the base snapshot and a grouped count/decimal-sum MV current, the
MV refreshed per micro-batch from the batch's ``merge_changes`` feed —
never by re-aggregating the base table.

Exactly-once for the MV (an incremental fold is NOT naturally
idempotent the way the snapshot merge is): the MV snapshot carries the
last applied ``batch_id`` as a constant column; a replayed batch whose
id is already applied skips the refresh and only re-runs the idempotent
base merge. Write ordering matters — the MV is committed BEFORE the
base snapshot, so a crash between the two replays into either (a) MV
already applied -> skip refresh, re-merge base idempotently, or (b)
nothing applied -> clean replay. In both cases the pair converges; the
window where the MV reflects the batch and the base does not yet is
closed by the same replay. (The changes feed is computed lazily against
the base's CURRENT manifest version, which the later base commit does
not disturb — snapshot reads are pinned to the manifest they opened.)

Scale: per trigger the MV work is |feed-delta| aggregation + one outer
join against |groups| rows (operators/mv.py contract); the base merge
cost is the snapshot path's (see run_stream_upsert's scale note — a
row-level-merge table format slots in behind the same foreachBatch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nspc_etl_basic_spark.materialize import scope
from nspc_etl_basic_spark.operators.merge import merge_changes
from nspc_etl_basic_spark.operators.mv import incremental_refresh, summary_mv
from nspc_etl_basic_spark.streaming.ingest import _content_last_wins, drain


def run_stream_mv(
    df: DataFrame,
    warehouse,
    table: str,
    mv_table: str,
    pk_cols: list[str],
    group_cols: list[str],
    sum_cols: list[str],
    checkpoint_path: str,
    dedup_order_col: str | None = None,
    query_name: str = "stream_mv",
):
    """Keyed upsert stream -> (base snapshot, incrementally maintained
    MV). The MV equals ``summary_mv(base)`` after every drained batch —
    exactly, because deltas ride DECIMAL(28,4) (pinned by pytest and by
    the stream_mv_replay driver oracle, which recomputes the MV from
    the replayed final table)."""

    def _fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        src = _content_last_wins(batch_df, pk_cols, dedup_order_col)
        with scope():  # per-batch release of merge_changes' cache
            base = warehouse.table(table, pk_cols)
            tgt = base.read()  # the feed and the merge share this read
            if tgt is not None:
                feed = merge_changes(tgt, src, pk_cols)
            else:
                feed = src.select(F.lit("insert").alias("op"), "*")
            if warehouse.exists(mv_table):
                prev_full = warehouse.read(mv_table)
                applied = prev_full.agg(
                    F.max("batch_id").alias("m")
                ).collect()[0]["m"]
                prev = prev_full.drop("batch_id")
            else:
                applied = None
                prev = summary_mv(src.limit(0), group_cols, sum_cols)
            if applied is None or int(applied) < int(batch_id):
                mv_new = incremental_refresh(
                    prev, feed, group_cols, sum_cols
                ).withColumn("batch_id", F.lit(int(batch_id)))
                warehouse.overwrite_snapshot(mv_new, mv_table)
            base.merge(src)

    writer = df.writeStream.foreachBatch(_fold_batch)
    return drain(writer, checkpoint_path, query_name)
