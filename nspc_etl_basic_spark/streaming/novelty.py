"""Streaming n-gram novelty: per-micro-batch first-seen tracking
against a persistent gram store — the streaming twin of
``operators/novelty.ngram_novelty`` with the batch as the group.

Each micro-batch (a corpus drop) reports how many of its distinct word
n-grams the pipeline has NEVER seen before — the live version of the
re-crawl diagnostic: a feed whose novelty collapses is delivering
content the corpus already holds.

Per micro-batch:
  1. explode the batch's word n-grams to 32-bit md5 hashes (the shared
     ring), count instances and distincts;
  2. anti-join the distinct hashes against the gram store — survivors
     are first-seen-here and are inserted with this batch id
     (attribution never moves: a later batch's copy anti-joins out);
  3. merge gram rows plus two sentinel metric rows (negative hash ids
     — the ring is non-negative, so no collision) into the bucketed
     differential store keyed on (h, batch_id): a REPLAYED micro-batch
     re-derives exactly the rows it wrote before (its own grams are
     anti-joined out, sentinels overwrite last-wins) — idempotent, the
     same replay-safety scheme as the span-dedup gram store and the
     heavy-hitters count store.

Report (``novelty_from_store``): per batch, instances / distincts /
first-seen counts and the novelty fraction — one aggregate over the
store, never the corpus.

Scale: per batch one explode + (distinct + anti-join) shuffle, both
n-gram proportional for the BATCH only; the store holds one row per
globally-distinct n-gram (the same asymptotic state as any exact
first-seen tracker) in a bucketed table the anti-join prunes by hash
bucket.

Precision contract (no Arrow kernel at all): strings and BIGINT hashes
only; the novelty fraction is a round-6 double at report time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nspc_etl_basic_spark.materialize import hold, scope
from nspc_etl_basic_spark.operators.novelty import _ngram_hashes
from nspc_etl_basic_spark.sinks.bucketed_merge import BucketedTable
from nspc_etl_basic_spark.streaming.ingest import drain

#: sentinel hash ids for per-batch metrics (the md5 ring is >= 0)
_H_INSTANCES = -1
_H_DISTINCT = -2


def gram_store_table(spark, path: str, n_buckets: int = 16) -> BucketedTable:
    """The persisted first-seen store: (h, batch_id) -> cnt, where
    h >= 0 rows are grams attributed to the batch that first saw them
    and negative-h rows carry the batch's metric sentinels."""
    return BucketedTable(spark, path, ["h", "batch_id"], n_buckets=n_buckets)


def run_stream_novelty(
    df: DataFrame,
    store: BucketedTable,
    checkpoint_path: str,
    text_col: str = "text",
    n: int = 3,
    query_name: str = "stream_novelty",
):
    """Drain an AvailableNow stream into the gram store (see module
    docstring). Report with :func:`novelty_from_store`."""
    if n <= 0:
        raise ValueError(f"n must be positive, got {n}")

    def _track_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        # three actions hang off the exploded grams (instance count,
        # distinct count, anti-join feed into merge); cache the batch's
        # distinct grams so the explode + md5 runs once per batch, and
        # release them with the batch
        with scope():
            grams = hold(batch_df.select(
                F.explode(_ngram_hashes(F.col(text_col), n)).alias("h")
            ))
            dist = hold(grams.distinct())
            n_inst = grams.count()
            n_dist = dist.count()
            if store.exists():
                seen = store.read().where(F.col("h") >= 0).select("h")
                new = dist.join(seen, "h", "left_anti")
            else:
                new = dist
            rows = new.select(
                "h",
                F.lit(int(batch_id)).cast("long").alias("batch_id"),
                F.lit(1).cast("long").alias("cnt"),
            ).unionByName(
                spark.createDataFrame(
                    [
                        (_H_INSTANCES, int(batch_id), n_inst),
                        (_H_DISTINCT, int(batch_id), n_dist),
                    ],
                    "h long, batch_id long, cnt long",
                )
            )
            store.merge(rows)  # last-wins on (h, batch_id): replay-safe

    writer = df.writeStream.foreachBatch(_track_batch)
    return drain(writer, checkpoint_path, query_name)


def novelty_from_store(store: BucketedTable) -> DataFrame:
    """Per-batch novelty report: ``(batch_id, n_instances, n_distinct,
    n_new, novelty_frac)`` — one aggregate over the store."""
    rows = store.read()
    news = (
        rows.where(F.col("h") >= 0)
        .groupBy("batch_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_new"))
    )
    metrics = (
        rows.where(F.col("h") < 0)
        .groupBy("batch_id")
        .agg(
            F.sum(F.when(F.col("h") == _H_INSTANCES, F.col("cnt")))
            .cast("long")
            .alias("n_instances"),
            F.sum(F.when(F.col("h") == _H_DISTINCT, F.col("cnt")))
            .cast("long")
            .alias("n_distinct"),
        )
    )
    return metrics.join(F.broadcast(news), "batch_id", "left").select(
        "batch_id",
        "n_instances",
        "n_distinct",
        F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
        F.when(
            F.col("n_distinct") > 0,
            F.round(
                F.coalesce("n_new", F.lit(0)).cast("double")
                / F.col("n_distinct").cast("double"),
                6,
            ),
        ).alias("novelty_frac"),
    )
