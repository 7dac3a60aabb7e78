"""Key-based merge (upsert) and last-wins dedup (SURVEY.md §2 D1, D2, E1).

The reference upserts row-at-a-time (MERGE per row, loader.py:1272-1299, or
UPDATE-then-INSERT, loader.py:1301-1338). The Spark-native plan replaces the
per-row round-trips with ONE join-based snapshot rewrite:

    merged = target.join(source, pk, 'left_anti').unionByName(source)

i.e. keep target rows whose key is absent from the source, then take every
source row (source wins on matched keys). Equivalent to SQL MERGE with
UPDATE-all-columns + INSERT semantics.

Scale notes:
  - the anti-join shuffles both sides on the PK unless the source is small —
    for file-sized sources against a large target we ``broadcast(source)``
    so the 100 TB target never shuffles (broadcast-anti-join + union is a
    map-only plan over the target);
  - insert/update split (D2 semantics — the reference's batch path
    miscounts, acknowledged at loader.py:1294-1297; we compute the true
    split) comes from the snapshot write itself: row counts observed on
    the target scan, the kept target rows and the merged output are
    collected as metrics of the write job, so no extra job recounts
    what the write already scans;
  - last-wins dedup (E1) windows on the per-file ``__seq`` order BEFORE any
    shuffle, because input order is semantic (SURVEY.md §7.2 item 1).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nspc_etl_basic_spark.materialize import hold
from nspc_etl_basic_spark.sources.reader import SEQ_COL


@dataclass
class MergeCounts:
    inserted: int
    updated: int


@dataclass
class MergeObservation:
    """Row counts a merge's write collects while it runs (Spark's
    ``Observation``): ``target`` rows scanned, target rows ``kept``
    after the anti-join, and ``merged`` rows written. A leg the plan
    never carried reads as 0. Read them only after the write returned:
    ``Observation.get`` blocks until the observed query has run.

    Every leg sits on the written frame's side of the plan, never on
    the source alone: an observation completes only through the session
    that registered it, and a source from another session (a streaming
    micro-batch) would leave its leg waiting forever."""

    legs: dict[str, Observation] = field(default_factory=dict)

    def on(self, leg: str, df: DataFrame) -> DataFrame:
        obs = self.legs[leg] = Observation()
        return df.observe(obs, F.count(F.lit(1)).alias("rows"))

    def rows(self, leg: str) -> int:
        obs = self.legs.get(leg)
        return obs.get["rows"] if obs is not None else 0


def dedup_last_wins(df: DataFrame, pk_cols: list[str], order_col: str = SEQ_COL) -> DataFrame:
    """E1: within one source file, the LAST occurrence of a duplicate key
    wins (pinned by reference test_upsert_operations.py:361-395 and config
    ``duplicate_keys_in_source: 'last_wins'``).

    ``order_col`` must capture input row order assigned at read time
    (reader's ``__seq``); falls back to synthesizing one when absent —
    callers that shuffled first lose order guarantees, so don't.
    """
    work = df
    if order_col not in df.columns:
        work = df.withColumn(order_col, F.monotonically_increasing_id())
    w = Window.partitionBy(*[F.col(c) for c in pk_cols]).orderBy(F.col(order_col).desc())
    return (
        work.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    pk_cols: list[str],
    broadcast_source: bool | None = None,
    observe: MergeObservation | None = None,
) -> DataFrame:
    """D1: join-based MERGE — returns the post-merge snapshot.

    Column sets must match (caller aligns via ``unionByName`` contract).
    ``broadcast_source=None`` auto-broadcasts (file-sized sources vs large
    targets is the reference's only workload shape); pass False for
    symmetric-size merges so Catalyst/AQE picks a shuffled join.
    ``observe`` puts row counts on the target scan, the kept target rows
    and the merged output; ``merge_counts`` turns them into the
    insert/update split once the snapshot has been written.
    """
    src = source.select(*target.columns)
    join_side = F.broadcast(src) if broadcast_source is not False else src
    leg = observe.on if observe is not None else (lambda _, df: df)
    kept = leg("target", target).join(join_side, on=pk_cols, how="left_anti")
    return leg("merged", leg("kept", kept).unionByName(src))


def merge_counts(observe: MergeObservation) -> MergeCounts:
    """D2 semantics: the true inserted/updated split (the reference's
    per-row path returns this; its batch MERGE path admits to counting
    everything as updates — we implement the correct split, SURVEY.md
    §4.1 'deviation-to-correctness').

    The counts come from the write, not from extra jobs: call this after
    the snapshot built by ``merge_upsert(..., observe=observe)`` has been
    written (or, for a load with no target, after a frame observed as
    ``merged`` has). With T target rows, K of them kept by the
    anti-join and M rows written, the source has S = M - K rows,
    updated = T - K (target rows whose key the source matched) and
    inserted = S - updated = M - T. That is the semi-join count and the
    distinct-source-key count minus it, because the source is key-unique
    (``dedup_last_wins`` leaves one row per key, the null key included,
    and a null key never matches so it counts as inserted)."""
    target, merged = observe.rows("target"), observe.rows("merged")
    return MergeCounts(
        inserted=merged - target, updated=target - observe.rows("kept")
    )


def merge_changes(
    target: DataFrame,
    source: DataFrame,
    pk_cols: list[str],
    broadcast_source: bool | None = None,
) -> DataFrame:
    """Change-data-feed for the join-based MERGE (Delta CDF semantics):
    every row the merge touches, tagged ``op`` ∈ {'insert',
    'update_preimage', 'update_postimage'} — the audit/replication feed
    a downstream consumer (streaming SCD2 fold, incremental cache
    invalidation, CDC export) reads instead of diffing snapshots.

    ``merge_upsert`` + this feed share semantics by construction: the
    post-merge snapshot equals target minus preimages plus inserts plus
    postimages (pinned by pytest).

    Scale (file-sized source vs 100 TB target, the reference workload):
    the matched-key set is built by scanning ONLY the target's
    column-pruned pk columns against a broadcast of the source keys —
    small by construction (≤ |source|) — then every feed leg is a
    map-only broadcast semi/anti join: the target is never shuffled,
    never broadcast, and its non-key columns are read once (for the
    preimage leg). The matched-key table is held (it anchors three
    broadcasts) until the caller's ``materialize.scope`` exits; pass
    ``broadcast_source=False`` for symmetric-size merges to let AQE
    pick shuffled joins instead.
    """
    src = source.select(*target.columns)
    if broadcast_source is False:
        tkeys = target.select(*pk_cols)
        inserts = src.join(tkeys, pk_cols, "left_anti")
        pre = target.join(src.select(*pk_cols), pk_cols, "left_semi")
        post = src.join(tkeys, pk_cols, "left_semi")
    else:
        src_keys = src.select(*pk_cols).distinct()
        matched = hold(
            target.select(*pk_cols)
            .join(F.broadcast(src_keys), pk_cols, "left_semi")
        )
        inserts = src.join(F.broadcast(matched), pk_cols, "left_anti")
        pre = target.join(F.broadcast(matched), pk_cols, "left_semi")
        post = src.join(F.broadcast(matched), pk_cols, "left_semi")
    return (
        inserts.select(F.lit("insert").alias("op"), "*")
        .unionByName(pre.select(F.lit("update_preimage").alias("op"), "*"))
        .unionByName(post.select(F.lit("update_postimage").alias("op"), "*"))
    )


def snapshot_diff(
    old: DataFrame, new: DataFrame, pk_cols: list[str]
) -> DataFrame:
    """After-the-fact change extraction between two table versions
    (Delta's ``table_changes`` read over snapshots): op-tagged rows with
    ``op`` ∈ {'insert', 'delete', 'update_preimage',
    'update_postimage'}. Unlike ``merge_changes`` — which tags every
    MATCHED row because the merge touched it — a diff only reports rows
    whose content actually differs (null-safe comparison over the
    non-key columns), so replaying the diff onto ``old`` reconstructs
    ``new`` exactly and minimally.

    Use ``merge_changes`` when you control the write (the feed is free
    — map-only broadcast legs); use this when you only have the two
    versions (audit, late-built downstream, divergence checks). The
    price of not having captured changes at write time is honest: one
    full-outer join co-partitioned on the pk — both snapshots shuffle
    once on their key, the scan reads only pk + compared columns, and
    skew/AQE handling is the ordinary join path's. There is no cheaper
    general diff: any algorithm must look at both sides' content.
    """
    val_cols = [c for c in old.columns if c not in pk_cols]
    if old.columns != new.columns:
        new = new.select(*old.columns)
    o = old.select(
        *pk_cols,
        F.lit(True).alias("__in_old"),
        *[F.col(c).alias(f"__o_{c}") for c in val_cols],
    )
    n = new.select(
        *pk_cols,
        F.lit(True).alias("__in_new"),
        *[F.col(c).alias(f"__n_{c}") for c in val_cols],
    )
    j = o.join(n, pk_cols, "full_outer")
    same = F.lit(True)
    for c in val_cols:
        same = same & F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
    inserted = F.col("__in_old").isNull()
    deleted = F.col("__in_new").isNull()
    changed = ~inserted & ~deleted & ~same

    def _leg(op: str, side: str, cond) -> DataFrame:
        return j.where(cond).select(
            F.lit(op).alias("op"),
            *pk_cols,
            *[F.col(f"__{side}_{c}").alias(c) for c in val_cols],
        )

    return (
        _leg("insert", "n", inserted)
        .unionByName(_leg("delete", "o", deleted))
        .unionByName(_leg("update_preimage", "o", changed))
        .unionByName(_leg("update_postimage", "n", changed))
    )
