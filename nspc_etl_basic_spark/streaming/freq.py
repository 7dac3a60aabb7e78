"""Streaming heavy hitters: per-micro-batch frequent-item tracking with
a replay-safe additive count store and a lossy-counting error bound.

The batch operator (operators/sketches.heavy_hitters) is exact because
it can re-scan the corpus for phase 2. A stream cannot re-scan: once a
micro-batch is gone, counts for keys not yet tracked are lost. The
classical answer (Manku & Motwani's lossy counting, VLDB 2002) accepts
a bounded undercount: track a key exactly FROM THE BATCH IT FIRST
BECOMES A CANDIDATE; mass before that is bounded by support * N_prior.

Per micro-batch:
  1. candidates = the batch's bounded-memory frequent items
     (``stat.freqItems`` at ``support``) UNION all keys the store
     already tracks (forward tracking: once hot, always counted);
  2. exact batch counts for candidate keys only (the same
     head-not-tail shuffle contract as the batch operator);
  3. merge ``(key, batch_id) -> cnt`` rows plus a ``(TOTAL, batch_id)``
     sentinel into a bucketed differential store — last-wins on the
     key, so a REPLAYED micro-batch overwrites its own rows instead of
     double-adding (the same replay-safety scheme as the streaming
     span-dedup gram store and anomaly stats store).

Soundness: if a key's global share is >= threshold, some batch has
share >= threshold > support (weighted-average argument), so it enters
candidates no later than that batch — the final report is a guaranteed
SUPERSET of threshold-heavy keys. Each reported count is exact from
first-candidacy onward; the undercount is < support * (total rows
before first candidacy) <= support * N, reported as ``max_undercount``
so the consumer sees the bound, not just the estimate.

Scale: per batch this is one freqItems pass, one candidate-filtered
aggregate, and a bucket-pruned keyed merge; the store holds
O(tracked keys x batches) short rows, never the tail.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nspc_etl_basic_spark.operators.sketches import _ISIN_LITERAL_CAP
from nspc_etl_basic_spark.sinks.bucketed_merge import BucketedTable
from nspc_etl_basic_spark.streaming.ingest import drain

#: sentinel key row carrying each batch's TOTAL row count (needed for
#: threshold * N at report time); real keys are stringified, and the
#: sentinel contains characters cast-from-value strings cannot produce
TOTAL_KEY = "\x00__TOTAL__"


def count_store_table(spark, path: str, n_buckets: int = 16) -> BucketedTable:
    """The persisted count store: (key, batch_id) -> cnt."""
    return BucketedTable(spark, path, ["key", "batch_id"], n_buckets=n_buckets)


def run_stream_heavy_hitters(
    df: DataFrame,
    store: BucketedTable,
    checkpoint_path: str,
    key_col: str,
    support: float = 0.01,
    query_name: str = "stream_heavy_hitters",
):
    """Drain an AvailableNow stream into the count store (see module
    docstring). Report with :func:`heavy_hitters_from_store`."""
    if not 1e-4 <= support < 1.0:
        raise ValueError(
            "support must be in [1e-4, 1) — freqItems enforces the floor"
        )

    def _track_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        keys = batch_df.select(
            F.col(key_col).cast("string").alias("key")
        )
        cands = {
            c
            for c in keys.stat.freqItems(["key"], support).head()[0]
            if c is not None
        }
        if store.exists():
            cands |= {
                r["key"]
                for r in store.read()
                .where(F.col("key") != TOTAL_KEY)
                .select("key")
                .distinct()
                .collect()
            }
        total = keys.count()
        spark = batch_df.sparkSession
        if not cands:
            counted = spark.createDataFrame([], "key string, cnt long")
        elif len(cands) <= _ISIN_LITERAL_CAP:
            counted = (
                keys.where(F.col("key").isin(list(cands)))
                .groupBy("key")
                .agg(F.count(F.lit(1)).alias("cnt"))
            )
        else:
            # The tracked-key set grows monotonically across batches; an
            # isin literal over it would eventually hit the plan-size
            # cliff. Same guard as the batch operator: broadcast
            # semi-join past the cap.
            cand_df = spark.createDataFrame(
                [(c,) for c in cands], "key string"
            )
            counted = (
                keys.join(F.broadcast(cand_df), "key", "left_semi")
                .groupBy("key")
                .agg(F.count(F.lit(1)).alias("cnt"))
            )
        rows = counted.select(
            "key",
            F.lit(int(batch_id)).cast("long").alias("batch_id"),
            "cnt",
        ).unionByName(
            spark.createDataFrame(
                [(TOTAL_KEY, int(batch_id), total)],
                "key string, batch_id long, cnt long",
            )
        )
        store.merge(rows)  # last-wins on (key, batch_id): replay-safe

    writer = df.writeStream.foreachBatch(_track_batch)
    return drain(writer, checkpoint_path, query_name)


def heavy_hitters_from_store(
    store: BucketedTable, threshold_frac: float, support: float
) -> DataFrame:
    """Keys whose tracked count reaches ``ceil(threshold_frac * N)``:
    ``(key, cnt, share, max_undercount)``. Guaranteed superset of the
    truly threshold-heavy keys; each cnt is exact from the key's first
    candidacy, undercounting by less than ``support * N`` (emitted as
    ``max_undercount`` so the bound travels with the answer).

    The superset guarantee only holds when ``support <= threshold_frac``
    (a threshold-heavy key is only guaranteed to enter candidacy when
    some batch gives it share > support); a larger support silently
    voids it, so it is rejected — matching
    :func:`operators.sketches.heavy_hitters`'s validation."""
    if support > threshold_frac:
        raise ValueError(
            "support must be <= threshold_frac: the lossy-counting "
            f"superset guarantee needs it (got support={support}, "
            f"threshold_frac={threshold_frac})"
        )
    rows = store.read()
    totals = rows.where(F.col("key") == TOTAL_KEY).agg(
        F.sum("cnt").alias("__n")
    )
    n = totals.collect()[0]["__n"] or 0
    min_cnt = max(1, math.ceil(threshold_frac * n)) if n else 1
    bound = int(math.ceil(support * n))
    return (
        rows.where(F.col("key") != TOTAL_KEY)
        .groupBy("key")
        .agg(F.sum("cnt").alias("cnt"))
        .where(F.col("cnt") >= min_cnt)
        .select(
            "key",
            "cnt",
            (
                F.floor(F.col("cnt") * F.lit(1e6) / F.lit(float(n or 1)))
                / F.lit(1e6)
            ).alias("share"),
            F.lit(bound).cast("long").alias("max_undercount"),
        )
    )
