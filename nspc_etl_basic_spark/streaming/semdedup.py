"""Streaming semantic deduplication: each micro-batch of embeddings
merges into a persistent LABEL STORE via the incremental-components
contraction — the live twin of ``operators/semdedup.py`` and the 14th
member of the streaming-replay family.

Per micro-batch (a corpus drop of embedding rows):
  1. assign the batch to the FROZEN coarse codebook (a projection —
     the codebook rides the plan as literals; retraining per batch
     would move cell boundaries, see semantic_dedup_incremental);
  2. classify each batch id against the store: FRESH (not in the
     store), UNCHANGED re-ingest (same vector — a replay), or CHANGED
     (same id, different vector — a re-embedded document);
  3. for the common no-update batch, form within-cell candidate
     pairs: batch-batch plus batch-store, the batch side broadcast and
     the store side pruned to the batch's touched cells BEFORE the
     cosine verify — per-batch work is batch-vs-cell-sized, never
     store-quadratic — and absorb them with ``incremental_components``
     (the fixpoint runs on the contracted batch graph);
  4. when the batch carries CHANGED vectors, the touched cells go
     through the DIRTY-CELL REBUILD (below) instead, because a changed
     vector can REMOVE edges and split a component — a case the
     merge-only contraction cannot express;
  5. upsert into the bucketed store: fresh rows, changed ids' new
     rows, plus ONLY the existing rows whose group label moved.

Dirty-cell rebuild (the vector-update path): edges live strictly
WITHIN a coarse cell, so a changed vector can only perturb components
in its OLD cell (edges to the old vector vanish — possible split) and
its NEW cell (edges to the new vector appear — possible merge). Those
cells are marked dirty; their membership — store rows minus the
changed ids' stale rows, plus the changed ids' new vectors, plus the
batch's fresh rows landing there — is re-paired and re-labeled FROM
SCRATCH (min-id components), and only rows whose label, cell, or
vector actually moved are rewritten. Everything outside the dirty
cells takes the ordinary contraction path; the two label spaces
cannot collide because a component id is the min member id and every
member lives in one cell. Per-batch cost is the within-dirty-cell
quadratic — bounded by the cells the changed vectors touch, zero for
the no-update batch (the rebuild branch is skipped entirely).

Equivalence: by induction over batches, after draining, the store
equals the from-scratch ``semantic_dedup`` of the LATEST vector per
id under the same frozen codebook (pinned by tests/test_semdedup.py,
including a split caused by a departing cut-vertex vector and a
min-id departure relabel).

Replay safety (the checkpoint-recovery contract): re-executing the
in-flight batch is a no-op. An UNCHANGED re-ingest derives pairs
among rows the store already relates; ``incremental_components``
contracts re-ingested ids to their existing components (idempotent),
the relabel set is empty or identical, and the id's store row is
excluded from the upsert. A CHANGED re-ingest is detected by exact
vector comparison, so it applies exactly once: after the first apply
the store carries the new vector and a re-execution of that batch
classifies the id as unchanged. Note the contract is per-batch
recovery, not arbitrary re-feeds: feeding a batch OLDER than an id's
latest write re-introduces the stale vector as a "change" — stream
order is write order (last write wins), exactly as in any keyed
upsert sink.

State size: one row per corpus vector (id, cell, double vector,
group_id) — the same asymptotic state as any exact semantic-dup
tracker; the vector must be kept because FUTURE batches verify cosine
against it (and because update detection compares against it).

The store supports the full maintenance trio: streaming ingest,
changed-vector update (both above), and batch RETIREMENT
(:func:`retire_ids` — takedown/purge removal with the same
dirty-cell rebuild, so surviving labels always equal a from-scratch
dedup of the survivors).

Precision contract: vectors cross into the store as float64 arrays
cast once at assignment; cosines are the engine-wide round-6 doubles;
ids/cells/labels are BIGINT. No Arrow kernel anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nspc_etl_basic_spark.operators.dedup import incremental_components
from nspc_etl_basic_spark.operators.semdedup import _assign_cells
from nspc_etl_basic_spark.operators.similarity import dot, norm
from nspc_etl_basic_spark.sinks.bucketed_merge import BucketedTable
from nspc_etl_basic_spark.streaming.ingest import drain


def label_store_table(spark, path: str, n_buckets: int = 16) -> BucketedTable:
    """The persisted label store: vec_id -> (cell, embedding, group_id),
    bucketed differential table keyed on vec_id. The streaming facade
    writes a vec_id's row when the id is FIRST seen, when its GROUP
    LABEL moves, or when a re-ingest carries a CHANGED vector (the
    dirty-cell rebuild path — cell and embedding move together);
    an unchanged re-ingest is excluded from the upsert, so replays
    never rewrite the store."""
    return BucketedTable(spark, path, ["vec_id"], n_buckets=n_buckets)


def run_stream_semdedup(
    df: DataFrame,
    store: BucketedTable,
    checkpoint_path: str,
    centroids: list[tuple[int, list[float]]],
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_name: str = "stream_semdedup",
):
    """Drain an AvailableNow embedding stream into the label store
    (see module docstring). Batch rows must be key-unique on
    ``id_col`` within a batch (dedup upstream); a batch id already in
    the store is a no-op when its vector is unchanged and takes the
    dirty-cell rebuild when it changed. Report with
    :func:`semdedup_from_store`."""
    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch_a = _assign_cells(
            batch_df, centroids, id_col, vec_col
        ).localCheckpoint(eager=True)

        def _side(d: DataFrame, suffix: str) -> DataFrame:
            return d.select(
                F.col(id_col).alias(f"id_{suffix}"),
                F.col("__v").alias(f"__v{suffix}"),
                F.col("__n").alias(f"__n{suffix}"),
                "cell",
            )

        cos = F.round(
            dot(F.col("__va"), F.col("__vb"))
            / (F.col("__na") * F.col("__nb")),
            6,
        )

        def _within_pairs(rows: DataFrame) -> DataFrame:
            """Within-cell candidate pairs among one row set."""
            return (
                _side(rows, "a")
                .join(_side(rows, "b"), "cell")
                .filter(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b", cos.alias("cos_sim"))
                .filter(F.col("cos_sim") >= threshold)
            )

        if not store.exists():
            labels = incremental_components(
                batch_a.select(id_col),
                _within_pairs(batch_a).select("id_a", "id_b"),
                spark.createDataFrame(
                    [], f"{id_col} long, component_id long"
                ),
                id_col=id_col,
            ).localCheckpoint(eager=True)
            store.merge(
                batch_a.join(labels, id_col).select(
                    F.col(id_col).alias("vec_id"),
                    F.col("cell").cast("long").alias("cell"),
                    F.col("__v").alias("embedding"),
                    F.col("component_id").cast("long").alias("group_id"),
                )
            )
            return

        state = store.read()
        # classify the batch against the store — fresh / unchanged
        # replay / changed vector — WITHOUT ever shuffling the
        # vector-bearing store: a left OUTER join cannot broadcast its
        # left (batch) side, so first prune the store to the batch's
        # ids with a broadcast LEFT-SEMI (batch ids broadcast into a
        # scan-only pass over the store), then left-join the batch
        # against the now batch-sized pruned slice, which IS a legal
        # broadcast right side
        hit = state.join(
            F.broadcast(batch_a.select(F.col(id_col).alias("vec_id"))),
            "vec_id",
            "left_semi",
        )
        cls = batch_a.join(
            F.broadcast(
                hit.select(
                    F.col("vec_id").alias(id_col),
                    F.col("cell").alias("__scell"),
                    F.col("embedding").alias("__sv"),
                )
            ),
            id_col,
            "left",
        ).localCheckpoint(eager=True)
        changed = cls.filter(
            F.col("__sv").isNotNull() & (F.col("__v") != F.col("__sv"))
        )
        has_updates = not changed.isEmpty()
        dirty_cells = None
        if has_updates:
            # dirty cells: the changed ids' old AND new cells (edges
            # are cell-local, so nothing outside these can split or
            # merge). Batch-bounded (<= 2 per changed id).
            dirty_cells = (
                changed.select("cell")
                .unionByName(changed.select(F.col("__scell").alias("cell")))
                .distinct()
                .localCheckpoint(eager=True)
            )

        # ---- clean path: the merge-only contraction, restricted to
        # cells no changed vector touches (= the whole batch when
        # has_updates is False — today's common case)
        # batch_clean rides on cls (already materialized) so the
        # fresh-vs-replay split below reads the __sv flag instead of
        # re-scanning the store
        batch_clean = cls
        state_clean = state
        if has_updates:
            batch_clean = cls.join(
                F.broadcast(dirty_cells), "cell", "left_anti"
            )
            state_clean = state.join(
                F.broadcast(dirty_cells), "cell", "left_anti"
            )
        existing = state.select(
            F.col("vec_id").alias(id_col),
            F.col("group_id").alias("component_id"),
        )
        state_side = state_clean.select(
            F.col("vec_id").alias("id_b"),
            F.col("embedding").alias("__vb"),
            norm(F.col("embedding")).alias("__nb"),
            "cell",
        )
        batch_state = (
            F.broadcast(_side(batch_clean, "a"))
            .join(state_side, "cell")
            .filter(F.col("id_a") != F.col("id_b"))
            .select("id_a", "id_b", cos.alias("cos_sim"))
            .filter(F.col("cos_sim") >= threshold)
        )
        pairs = (
            _within_pairs(batch_clean)
            .unionByName(batch_state)
            .select("id_a", "id_b")
        )
        labels = incremental_components(
            batch_clean.select(id_col), pairs, existing, id_col=id_col
        ).localCheckpoint(eager=True)

        # a re-ingested (unchanged) batch id is excluded from new_rows
        # — its store row already holds the vector and label. The
        # fresh/replay split is the __sv flag cls already materialized
        # (a second left_anti against the full store would re-scan the
        # corpus per batch for information the classify pass has).
        new_rows = (
            batch_clean.filter(F.col("__sv").isNull())
            .join(labels, id_col)
            .select(
                F.col(id_col).alias("vec_id"),
                F.col("cell").cast("long").alias("cell"),
                F.col("__v").alias("embedding"),
                F.col("component_id").cast("long").alias("group_id"),
            )
        )
        # two-step relabel so vectors stay put: the moved set is
        # found on LABEL-ONLY columns (16-byte rows keyed on the
        # id), and only then attached back to the store rows —
        # moved is touched-components-sized, so AQE broadcasts it
        # against the vector-bearing state in the common case
        moved = (
            state_clean.select("vec_id", "group_id")
            .join(
                labels.select(
                    F.col(id_col).alias("vec_id"),
                    F.col("component_id").alias("__new"),
                ),
                "vec_id",
            )
            .where(F.col("group_id") != F.col("__new"))
            .select("vec_id", "__new")
        )
        relabeled = state_clean.join(moved, "vec_id").select(
            "vec_id",
            "cell",
            "embedding",
            F.col("__new").cast("long").alias("group_id"),
        )
        upsert = new_rows.unionByName(relabeled)

        # ---- dirty path: from-scratch re-pair + re-label of the
        # cells the changed vectors touch (see module docstring)
        if has_updates:
            changed_ids = changed.select(F.col(id_col).alias("vec_id"))
            store_kept = (
                state.join(F.broadcast(dirty_cells), "cell", "left_semi")
                .join(F.broadcast(changed_ids), "vec_id", "left_anti")
                .select(
                    F.col("vec_id").alias(id_col),
                    F.col("embedding").alias("__v"),
                    norm(F.col("embedding")).alias("__n"),
                    "cell",
                )
            )
            # fresh + changed batch rows landing in dirty cells (an
            # unchanged re-ingest's store copy is already in
            # store_kept; its batch copy would double the row)
            batch_dirty = (
                cls.filter(
                    F.col("__sv").isNull()
                    | (F.col("__v") != F.col("__sv"))
                )
                .select(id_col, "__v", "__n", "cell")
                .join(F.broadcast(dirty_cells), "cell", "left_semi")
            )
            rebuild = store_kept.unionByName(batch_dirty).localCheckpoint(
                eager=True
            )
            labels_d = incremental_components(
                rebuild.select(id_col),
                _within_pairs(rebuild).select("id_a", "id_b"),
                spark.createDataFrame(
                    [], f"{id_col} long, component_id long"
                ),
                id_col=id_col,
            )
            rebuilt_rows = rebuild.join(labels_d, id_col).select(
                F.col(id_col).alias("vec_id"),
                F.col("cell").cast("long").alias("cell"),
                F.col("__v").alias("embedding"),
                F.col("component_id").cast("long").alias("group_id"),
            )
            # minimal-diff upsert: fresh rows, changed ids (vector /
            # cell move), and rows whose label moved under the rebuild.
            # Same no-store-shuffle discipline as the classify pass:
            # prune the corpus-sized prior-state slice to the rebuilt
            # ids with a broadcast semi FIRST (scan-only over the
            # store), so the left join's right side is rebuild-sized
            # and broadcastable
            # no broadcast HINT on either side: the rebuild membership
            # is dirty-cell-sized, which a hot cell can make arbitrarily
            # large — the semi-prune keeps the store scan-only, and AQE
            # picks broadcast only when the pruned slice is actually
            # small (forcing it would trade the shuffle fallback for a
            # broadcast-limit failure on degenerate cells)
            prior = state.select(
                "vec_id",
                F.col("cell").alias("__pc"),
                F.col("group_id").alias("__pg"),
            ).join(
                rebuild.select(F.col(id_col).alias("vec_id")),
                "vec_id",
                "left_semi",
            )
            dirty_upsert = (
                rebuilt_rows.join(prior, "vec_id", "left")
                .where(
                    F.col("__pg").isNull()
                    | (F.col("group_id") != F.col("__pg"))
                    | (F.col("cell") != F.col("__pc"))
                )
                .select("vec_id", "cell", "embedding", "group_id")
            )
            # a changed id whose cell AND label survived still needs
            # its new VECTOR written
            changed_rows = rebuilt_rows.join(
                F.broadcast(changed_ids), "vec_id", "left_semi"
            )
            dirty_upsert = dirty_upsert.unionByName(changed_rows).dropDuplicates(
                ["vec_id"]
            )
            upsert = upsert.unionByName(dirty_upsert)

        store.merge(upsert)

    writer = df.writeStream.foreachBatch(_merge_batch)
    return drain(writer, checkpoint_path, query_name)


def retire_ids(
    store: BucketedTable,
    ids: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
) -> int:
    """Retire vectors from the label store — the data-REMOVAL third of
    the store contract (ingest / update / retire): takedowns,
    right-to-be-forgotten purges, and decontamination removals all
    reduce to "these ids must leave the corpus AND the surviving
    labels must equal a from-scratch dedup of the survivors". Removing
    a vector can SPLIT its component (it may be a cut vertex) and can
    orphan a group label (the min id may be the one departing), so the
    departed ids' cells take the same dirty-cell rebuild as the
    changed-vector update path; edges are cell-local, so no other cell
    can move. ``threshold`` must be the store's ingest threshold — it
    re-derives the surviving within-cell edges. Returns the number of
    store rows removed; ids not present are ignored (idempotent).

    Write order is relabel-then-delete: if interrupted between the
    two, re-running the same call converges (the retired rows are
    still present, so the same dirty cells rebuild to the same labels
    and the delete completes). Single-maintainer semantics, like
    ``BucketedTable.compact``.

    Scale: one store scan classifies + prunes (retired side broadcast);
    the rebuild quadratic is bounded by the departed ids' cells; the
    delete rewrites only the buckets holding the retired keys."""
    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    state = store.read()
    keys = ids.select(F.col(id_col).alias("vec_id")).distinct()
    retired = state.join(F.broadcast(keys), "vec_id", "left_semi")
    if retired.isEmpty():
        return 0
    dirty_cells = (
        retired.select("cell").distinct().localCheckpoint(eager=True)
    )
    survivors = (
        state.join(F.broadcast(dirty_cells), "cell", "left_semi")
        .join(F.broadcast(keys), "vec_id", "left_anti")
        .select(
            F.col("vec_id").alias(id_col),
            F.col("embedding").alias("__v"),
            norm(F.col("embedding")).alias("__n"),
            "cell",
        )
        .localCheckpoint(eager=True)
    )

    cos = F.round(
        dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")),
        6,
    )
    pairs = (
        survivors.select(
            F.col(id_col).alias("id_a"),
            F.col("__v").alias("__va"),
            F.col("__n").alias("__na"),
            "cell",
        )
        .join(
            survivors.select(
                F.col(id_col).alias("id_b"),
                F.col("__v").alias("__vb"),
                F.col("__n").alias("__nb"),
                "cell",
            ),
            "cell",
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b")
    )
    labels = incremental_components(
        survivors.select(id_col),
        pairs,
        state.sparkSession.createDataFrame(
            [], f"{id_col} long, component_id long"
        ),
        id_col=id_col,
    )
    moved = (
        state.select("vec_id", "cell", "embedding", "group_id")
        .join(
            # unhinted: labels is dirty-cell-membership-sized; AQE
            # broadcasts it when small and falls back to a shuffle
            # join on degenerate cells instead of hitting the
            # broadcast limit
            labels.select(
                F.col(id_col).alias("vec_id"),
                F.col("component_id").alias("__new"),
            ),
            "vec_id",
        )
        .where(F.col("group_id") != F.col("__new"))
        .select(
            "vec_id",
            "cell",
            "embedding",
            F.col("__new").cast("long").alias("group_id"),
        )
    )
    store.merge(moved)
    return store.delete(keys)


def semdedup_from_store(store: BucketedTable) -> DataFrame:
    """The corpus-wide semantic-dedup view: ``(vec_id, cell, group_id,
    keep)`` — one scan of the label store, keep = representative."""
    return store.read().select(
        "vec_id",
        F.col("cell").cast("long").alias("cell"),
        F.col("group_id").cast("long").alias("group_id"),
        (F.col("vec_id") == F.col("group_id")).alias("keep"),
    )
