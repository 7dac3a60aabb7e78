"""Config-driven corpus curation — the training-data counterpart of the
reference's config-driven file loads (`file-to-sql-loader.py:145`
``load_config`` reads a YAML and every load decision derives from it;
this runner applies the same contract to the curation surface, so a
pipeline owner declares the recipe instead of hand-wiring operators).

Stages, each gated by the presence of its config key and composed from
the independently driver-oracled operators:

  quality        text.quality_filter over the configured thresholds
  decontaminate  word-n-gram benchmark decontamination against the
                 ``eval_docs`` frame (decontaminate.decontaminate);
                 with ``eval_embeddings`` + ``embeddings`` also the
                 SEMANTIC sweep (semdedup.semantic_decontaminate —
                 catches paraphrased leakage n-grams cannot)
  dedup          minhash -> LSH candidates -> connected components ->
                 keep-best representative (quality_col configurable)
  semantic_dedup SemDeDup over the kept documents' ``embeddings``
                 (frozen or in-stage-trained codebook; keep = group
                 representative) — the meaning-level pass after the
                 lexical one
  split          assign_split on the near-dup CLUSTER id when dedup ran
                 (leakage-safe: a test doc's near-copy can never land
                 in train) else on the doc id
  pack           pack_greedy assignment + pack_report over the kept set

The embedding-backed stages take their side inputs as keyword
arguments (``embeddings`` keyed on ``vec_id_col`` == the doc id;
``eval_docs`` / ``eval_embeddings`` for decontamination) and RAISE
when configured without the frame they need — a silently skipped
decontamination sweep is a contaminated corpus.

``run_curation`` returns every stage's DataFrame in a dict, so callers
materialize only what they need; nothing is written (pair with the
warehouse / dataloader sinks downstream). This runner is the only
implementation of the chain: the ``corpus_end_to_end`` query
calls it at a fixed quality -> dedup -> split recipe, so that query's
DuckDB oracle checks the runner directly.

Scale: inherits each operator's documented shape. The quality stage is
ONE corpus scan (every docs column rides through the gate via
``carry=``; the survivors are never re-joined against the corpus), and
its survivors are repartitioned (the filter may leave skewed partitions
ahead of the signature projection) and materialized once, so the later
stages read them without re-running the gates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from nspc_etl_basic_spark.materialize import hold, scope

DEFAULT_SPLIT = {"train": 0.8, "val": 0.1, "test": 0.1}


def run_curation(
    spark: SparkSession,
    docs: DataFrame,
    config: dict,
    id_col: str = "doc_id",
    text_col: str = "text",
    embeddings: DataFrame | None = None,
    eval_docs: DataFrame | None = None,
    eval_embeddings: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Execute the configured curation stages over ``docs``; returns
    ``{stage: DataFrame}`` for every stage that ran (see module
    docstring for the stage inventory and keys)."""
    from pyspark.sql import functions as F

    cur = (config or {}).get("curation", {}) or {}
    out: dict[str, DataFrame] = {}
    kept = docs
    # the id column TRAVELS: keep_best_representative renames it to
    # kept_<id_col>, and every later stage must follow the rename
    current_id = id_col

    q_cfg = cur.get("quality")
    if q_cfg is not None:
        from nspc_etl_basic_spark.operators.text import quality_filter

        # one scan: every docs column rides through the gate under a
        # temporary name (a docs column such as n_chars must not collide
        # with a gate-feature name) and is renamed back, id first
        tmp = {
            c: f"__carry{i}"
            for i, c in enumerate(docs.columns)
            if c != id_col
        }
        carried = docs.select(
            id_col, *[F.col(c).alias(t) for c, t in tmp.items()]
        )
        good = quality_filter(
            carried, text_col=tmp[text_col], id_col=id_col,
            carry=tuple(tmp.values()), **q_cfg,
        )
        kept = (
            good.select(id_col, *[F.col(t).alias(c) for c, t in tmp.items()])
            .repartition(spark.sparkContext.defaultParallelism)
            .localCheckpoint(eager=True)
        )
        out["quality"] = kept

    dc_cfg = cur.get("decontaminate")
    if dc_cfg is not None:
        from nspc_etl_basic_spark.operators.decontaminate import (
            decontaminate,
        )

        if eval_docs is None:
            raise ValueError(
                "curation.decontaminate is configured but no eval_docs "
                "frame was passed — a silently skipped sweep is a "
                "contaminated corpus"
            )
        kept = decontaminate(
            kept, eval_docs, n=int(dc_cfg.get("ngram_n", 5)),
            text_col=text_col, id_col=id_col,
        )
        if dc_cfg.get("semantic") is not None:
            from nspc_etl_basic_spark.operators.semdedup import (
                semantic_decontaminate,
            )
            from nspc_etl_basic_spark.operators.similarity import (
                train_ivf_centroids,
            )

            if embeddings is None or eval_embeddings is None:
                raise ValueError(
                    "curation.decontaminate.semantic is configured but "
                    "embeddings/eval_embeddings frames were not passed"
                )
            sem = dc_cfg["semantic"]
            vec_id_col = sem.get("vec_id_col", "vec_id")
            vec_col = sem.get("vec_col", "embedding")
            cents = train_ivf_centroids(
                embeddings,
                n_cells=int(sem.get("n_cells", 16)),
                n_iter=int(sem.get("n_iter", 3)),
                vec_col=vec_col, id_col=vec_id_col,
            )
            kept = semantic_decontaminate(
                kept,
                embeddings.join(
                    kept.select(F.col(id_col).alias(vec_id_col)),
                    vec_id_col, "left_semi",
                ),
                eval_embeddings,
                cents,
                threshold=float(sem.get("threshold", 0.3)),
                id_col=id_col, vec_id_col=vec_id_col, vec_col=vec_col,
            )
        out["decontaminate"] = kept

    comp = None
    d_cfg = cur.get("dedup")
    if d_cfg is not None:
        from nspc_etl_basic_spark.operators.dedup import (
            keep_best_representative,
            lsh_candidate_pairs,
            minhash_signatures,
            neardup_components,
        )

        with scope():
            sigs = hold(minhash_signatures(kept, text_col=text_col, id_col=id_col))
            cand = hold(lsh_candidate_pairs(sigs, id_col=id_col))
            cand.count()
            sigs.unpersist()
            comp = neardup_components(kept.select(id_col), cand, id_col=id_col)
        out["clusters"] = comp
        quality_col = d_cfg.get("quality_col", "n_chars")
        kept = keep_best_representative(
            comp,
            kept.select(id_col, quality_col),
            quality_col=quality_col,
            id_col=id_col,
        )
        current_id = f"kept_{id_col}"
        out["kept"] = kept

    sd_cfg = cur.get("semantic_dedup")
    if sd_cfg is not None:
        from nspc_etl_basic_spark.operators.semdedup import semantic_dedup

        if embeddings is None:
            raise ValueError(
                "curation.semantic_dedup is configured but no embeddings "
                "frame was passed"
            )
        vec_id_col = sd_cfg.get("vec_id_col", "vec_id")
        vec_col = sd_cfg.get("vec_col", "embedding")
        kept_emb = embeddings.join(
            kept.select(F.col(current_id).alias(vec_id_col)),
            vec_id_col, "left_semi",
        )
        labels = semantic_dedup(
            kept_emb,
            n_cells=sd_cfg.get("n_cells"),
            n_iter=int(sd_cfg.get("n_iter", 3)),
            threshold=float(sd_cfg.get("threshold", 0.3)),
            id_col=vec_id_col, vec_col=vec_col,
            max_cell_size=sd_cfg.get("max_cell_size"),
            train_fraction=sd_cfg.get("train_fraction"),
        )
        out["semantic_clusters"] = labels
        # drop the non-representatives; documents WITHOUT an embedding
        # row pass through untouched (they cannot be verified as
        # semantic dups — dropping them would silently shrink the
        # corpus on a side-input coverage gap)
        drop_ids = labels.where(~F.col("keep")).select(
            F.col(vec_id_col).alias(current_id)
        )
        kept = kept.join(drop_ids, current_id, "left_anti")
        out["semantic_kept"] = kept

    s_cfg = cur.get("split")
    if s_cfg is not None:
        from nspc_etl_basic_spark.operators.sampling import assign_split

        weights = s_cfg.get("weights", DEFAULT_SPLIT)
        # leakage safety: when dedup ran, membership hashes the CLUSTER
        # id so near-copies stay on one side of every boundary
        split_key = "component_id" if comp is not None else current_id
        kept = assign_split(kept, split_key, weights)
        out["split"] = kept

    p_cfg = cur.get("pack")
    if p_cfg is not None:
        from nspc_etl_basic_spark.operators.packing import (
            pack_greedy,
            pack_report,
        )

        weight_col = p_cfg.get("weight_col", "n_chars")
        seq_len = int(p_cfg["seq_len"])
        pack_input = kept
        if weight_col not in kept.columns:
            # re-join the weight from the source docs on the SOURCE id,
            # aliased to whatever the id column is called by now
            pack_input = kept.join(
                docs.select(
                    F.col(id_col).alias(current_id), weight_col
                ),
                current_id,
            )
        train_only = p_cfg.get("split", "train")
        if "split" in pack_input.columns and train_only:
            pack_input = pack_input.where(F.col("split") == train_only)
        assignment = pack_greedy(
            pack_input,
            key_col=p_cfg.get("key_col", current_id),
            weight_col=weight_col,
            seq_len=seq_len,
            n_buckets=int(p_cfg.get("n_buckets", 64)),
            salt=p_cfg.get("salt", "pack"),
        )
        out["assignment"] = assignment
        out["pack_report"] = pack_report(assignment, weight_col, seq_len)

    return out
