"""Streaming per-key EWMA: the sequential recurrence advanced exactly
one micro-batch at a time against a replay-safe keyed store.

The batch operator (operators/resample.ewma_by_key) folds the whole
series in-row. The fold is not associative, but it IS sequentially
composable: folding batch B's time-ordered values starting from the
state after batches < B gives exactly the full-series EWMA. So the
stream keeps, per key, rows ``(key, batch_id) -> (y, n)`` in a
bucketed differential store and each micro-batch:

  1. reads the LATEST prior state per key, EXCLUDING its own batch_id
     — a replayed batch therefore recomputes against the identical
     pre-batch state and its last-wins merge is idempotent (the same
     replay-safety scheme as the span-dedup gram store and the
     anomaly stats store);
  2. folds the batch's values (time-ordered, in-row) from that state;
  3. merges ``(key, batch_id, y, n)``.

Per batch: one in-row fold aggregate over the batch, a store read
(keys x batches short rows), one join, one bucket-pruned merge. The
scored history never re-reads. Read the current answer with
:func:`ewma_from_store` (latest batch per key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nspc_etl_basic_spark.sinks.bucketed_merge import BucketedTable
from nspc_etl_basic_spark.streaming.ingest import drain


def ewma_store_table(
    spark, path: str, key_col: str, n_buckets: int = 16
) -> BucketedTable:
    """The persisted state store: (key, batch_id) -> (y, n)."""
    return BucketedTable(
        spark, path, [key_col, "batch_id"], n_buckets=n_buckets
    )


def _latest_state(store: BucketedTable, key_col: str, before_batch: int):
    rows = store.read().where(F.col("batch_id") != int(before_batch))
    w = Window.partitionBy(key_col).orderBy(F.col("batch_id").desc())
    return (
        rows.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .select(key_col, F.col("y").alias("__y0"), F.col("n").alias("__n0"))
    )


def run_stream_ewma(
    df: DataFrame,
    store: BucketedTable,
    checkpoint_path: str,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float = 0.3,
    query_name: str = "stream_ewma",
):
    """Drain an AvailableNow stream, advancing each key's EWMA exactly
    one batch per micro-batch (see module docstring)."""
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    a, b = float(alpha), 1.0 - float(alpha)

    def _advance(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        us = F.unix_micros(F.col(ts_col))
        obs = batch_df.where(F.col(value_col).isNotNull()).select(
            F.col(key_col),
            F.struct(
                us.alias("s"), F.col(value_col).cast("double").alias("v")
            ).alias("__o"),
        )
        ser = obs.groupBy(key_col).agg(
            F.sort_array(F.collect_list("__o")).alias("__ser"),
            F.count(F.lit(1)).alias("__bn"),
        )
        if store.exists():
            ser = ser.join(
                _latest_state(store, key_col, batch_id), key_col, "left"
            )
        else:
            ser = ser.withColumn("__y0", F.lit(None).cast("double"))
            ser = ser.withColumn("__n0", F.lit(None).cast("long"))
        vs = F.transform(F.col("__ser"), lambda o: o["v"])
        fold = F.aggregate(
            vs,
            F.col("__y0"),
            lambda acc, v: F.when(acc.isNull(), v).otherwise(
                acc * F.lit(b) + v * F.lit(a)
            ),
        )
        out = ser.select(
            key_col,
            F.lit(int(batch_id)).cast("long").alias("batch_id"),
            fold.alias("y"),
            (F.coalesce(F.col("__n0"), F.lit(0)) + F.col("__bn")).alias("n"),
        )
        store.merge(out)  # last-wins on (key, batch_id): replay-safe

    writer = df.writeStream.foreachBatch(_advance)
    return drain(writer, checkpoint_path, query_name)


def ewma_from_store(store: BucketedTable, key_col: str) -> DataFrame:
    """Current answer: each key's latest (y, n), rounded like the batch
    operator — ``(key_col, n_obs, ewma)``."""
    rows = store.read()
    w = Window.partitionBy(key_col).orderBy(F.col("batch_id").desc())
    return (
        rows.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .select(
            key_col,
            F.col("n").alias("n_obs"),
            F.round(F.col("y"), 6).alias("ewma"),
        )
    )
