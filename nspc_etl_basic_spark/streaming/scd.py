"""Streaming SCD Type-2: fold a change stream into a dimension-history
table, one micro-batch at a time.

Each micro-batch runs `operators/scd.py:scd2_apply_changes` against the
current snapshot: keys absent from the batch pass through broadcast-anti
(no rewrite of their history), keys present get their interval chain
replayed with the new changes folded in. The result commits through the
warehouse's atomic manifest flip, so a crash between data write and
checkpoint leaves the previous version readable.

Exactly-once effect under the checkpoint's at-least-once delivery comes
from apply-changes idempotency: replaying a batch whose changes are
already in the table compresses every re-delivered change away (same
argument as the keyed-upsert streaming sinks, proven for the SCD2 case
by `tests/test_scd_randomized.py` + the restart test)."""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame

from nspc_etl_basic_spark.operators.merge import dedup_last_wins
from nspc_etl_basic_spark.operators.scd import scd2_apply_changes, scd2_from_feed
from nspc_etl_basic_spark.streaming.ingest import drain


def run_stream_scd2(
    df: DataFrame,
    warehouse,
    table: str,
    key_cols: Sequence[str],
    ts_col: str,
    attr_cols: Sequence[str],
    checkpoint_path: str,
    dedup_order_col: str | None = None,
    query_name: str = "stream_scd2",
):
    """Drain an AvailableNow change stream into an SCD2 snapshot table.

    ``dedup_order_col`` names a source-sequence column: each micro-batch
    is last-wins deduped per (key, ts) on it BEFORE the fold, satisfying
    apply-changes' uniqueness requirement deterministically (same E1
    rule as the batch pipeline). Without it, same-(key, ts) duplicate
    changes inside one micro-batch pick a partition-order-dependent
    winner — pass one whenever the source can collide.
    """

    def _apply_batch(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        src = batch_df
        if dedup_order_col is not None:
            src = dedup_last_wins(
                src, [*key_cols, ts_col], order_col=dedup_order_col
            )
        src = src.select(*key_cols, ts_col, *attr_cols)
        if warehouse.exists(table):
            out = scd2_apply_changes(
                warehouse.read(table), src, key_cols, ts_col, attr_cols
            )
        else:
            out = scd2_from_feed(src, key_cols, ts_col, attr_cols)
        warehouse.overwrite_snapshot(out, table)

    writer = df.writeStream.foreachBatch(_apply_batch)
    return drain(writer, checkpoint_path, query_name)
