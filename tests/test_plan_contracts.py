"""Plan-shape contracts: the SCALE.md claims as executable assertions.

These pin the physical-plan properties that make the operators safe at
100 TB — filter pushdown reaching the parquet scan, explicit dimension
broadcasts, projection-only operators staying shuffle-free, global top-k
avoiding a full sort, and no accidental cartesian products. A regression
here may not change sf0.001 results at all, which is exactly why the
plan itself is the test subject."""

from __future__ import annotations

import contextlib
import io

import pytest

import __spark_entry__ as entrymod

QUERIES = entrymod.queries()


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _plan_simple(df) -> str:
    # one tree line per node (formatted mode repeats each node in the
    # details section, which breaks node counting)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def test_q6_pushes_all_predicates_to_scan(spark, sf_dir):
    plan = _plan(QUERIES["q6_filter_pushdown"](spark, sf_dir))
    assert "PushedFilters:" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters:" in ln][0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"
    # column pruning: the scan reads only what the query needs
    read = [ln for ln in plan.splitlines() if "ReadSchema:" in ln][0]
    assert read.count(":") <= 6  # 4 columns + the label's colon(s)
    assert "l_comment" not in read


def test_dimension_joins_broadcast(spark, sf_dir):
    for qid in ("q5_revenue_by_nation", "q9_brand_year_revenue", "q14_promo_share"):
        plan = _plan(QUERIES[qid](spark, sf_dir))
        assert "BroadcastHashJoin" in plan, f"{qid}: no broadcast join in plan"


def test_projection_only_operators_have_no_exchange(spark, sf_dir):
    """The 'zero shuffle' design claims: MinHash signatures, text features,
    language id, fingerprints, and multimodal metadata are pure
    projections — any Exchange in their plans is a scale regression."""
    # other tests may leave .cache()d frames in the shared session; a plan
    # that reads through InMemoryRelation embeds the cached subtree's
    # exchanges in explain output — assert on clean-cache plans
    spark.catalog.clearCache()
    for qid in (
        "dedup_minhash",
        "text_quality",
        "text_lang_id",
        "text_fingerprint",
        "multimodal_binary_meta",
    ):
        plan = _plan(QUERIES[qid](spark, sf_dir))
        # _docs_wide's explicit repartition is the one permitted exchange
        # (single-file input spreading, a no-op decision at scale)
        n_exchanges = plan.count("Exchange ")
        allowed = 1 if qid == "dedup_minhash" else 0
        assert n_exchanges <= allowed, f"{qid}: {n_exchanges} exchanges in plan"


def test_global_topk_uses_take_ordered(spark, sf_dir):
    plan = _plan(QUERIES["q10_returned_items"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_no_accidental_cartesian_products(spark, sf_dir):
    """sim_topk is the documented exact tier (bounded crossJoin by
    design); every OTHER query must be free of cartesian/nested-loop
    join strategies."""
    for qid, fn in QUERIES.items():
        if qid == "sim_topk":
            continue
        plan = _plan(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, f"{qid}: cartesian product"


def test_ivf_assignment_is_projection_no_join(spark, sf_dir):
    """IVF cell assignment must stay a shuffle-free projection (codebook
    as literals): exactly one join in the whole plan — the cell-id
    equi-join between queries and corpus."""
    plan = _plan_simple(QUERIES["sim_ann_ivf"](spark, sf_dir))
    joins = sum(plan.count(j) for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
    assert joins == 1, f"expected exactly 1 join (cell equi-join), got {joins}"


def test_rollup_is_one_pass(spark, sf_dir):
    """ROLLUP must compute all grouping levels via ONE Expand over ONE
    scan — not a self-union of per-level aggregates."""
    spark.catalog.clearCache()
    plan = _plan_simple(QUERIES["events_rollup"](spark, sf_dir))
    assert plan.count("Expand") == 1, plan
    assert plan.count("Scan parquet") == 1, plan


def test_q2_decorrelation_broadcasts_min_agg(spark, sf_dir):
    """The decorrelated per-part MIN joins back via broadcast — the
    correlated subquery must not become a shuffled self-join."""
    plan = _plan(QUERIES["q2_min_cost_supplier"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_q16_not_in_is_broadcast_anti_join(spark, sf_dir):
    plan = _plan_simple(QUERIES["q16_supplier_part_count"](spark, sf_dir))
    assert "LeftAnti" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_q20_scans_fact_once(spark, sf_dir):
    """Part totals re-aggregate the (part, supplier) rollup, so the
    lineitem fact is scanned exactly once."""
    spark.catalog.clearCache()
    plan = _plan_simple(QUERIES["q20_promotion_suppliers"](spark, sf_dir))
    scans = [
        ln for ln in plan.splitlines()
        if "Scan parquet" in ln and "lineitem" in ln
    ]
    assert len(scans) == 1, plan


def test_salted_join_stays_hash_join(spark, sf_dir):
    """Salting must not degrade the join strategy: the salted equi-join
    plans as a hash/sort-merge join, never nested-loop."""
    plan = _plan(QUERIES["events_salted_join"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert any(
        j in plan
        for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
    )


def test_funnel_reuses_one_user_partitioning(spark, sf_dir):
    """Both running-min windows AND the per-user rollup must ride ONE
    exchange on user_id — stacking windows over the same partitioning
    may not add shuffles."""
    spark.catalog.clearCache()
    plan = _plan_simple(QUERIES["events_funnel"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning(user_id") == 1, plan


def test_bigrams_use_take_ordered(spark, sf_dir):
    plan = _plan(QUERIES["text_bigrams"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_composed_neardup_has_bucket_cap_filter(spark, sf_dir):
    """A capped LSH candidate plan must carry the hot-key guard: the
    bucket-size window count and its filter must appear in the plan
    (dropping O(bucket²) mega-buckets is what keeps the self-join
    scale-safe on raw corpora)."""
    from nspc_etl_basic_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(lsh_candidate_pairs(minhash_signatures(docs), max_bucket_size=1000))
    assert "__bsz" in plan, plan


def test_incremental_dedup_broadcasts_batch_not_store(spark, sf_dir):
    """The batch-vs-store probe must broadcast the (file-sized) batch
    bands — never shuffle or self-join the corpus store."""
    plan = _plan(QUERIES["dedup_incremental"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lm_familiarity_aggregates_map_side(spark, sf_dir):
    """Bigram-LM scoring: count tables come from partial (map-side)
    aggregation; the vocab scalar enters as a broadcast, not a collect."""
    plan = _plan_simple(QUERIES["text_lm_familiarity"](spark, sf_dir))
    assert "partial_count" in plan or "partial" in plan, plan
    assert "BroadcastExchange" in plan, plan


def test_cube_is_one_pass(spark, sf_dir):
    """CUBE: all four grouping sets via ONE Expand over ONE scan."""
    spark.catalog.clearCache()
    plan = _plan_simple(QUERIES["events_cube_rollup"](spark, sf_dir))
    assert plan.count("Expand") == 1, plan
    assert plan.count("Scan parquet") == 1, plan


def test_pivot_is_single_aggregate_pass(spark, sf_dir):
    """PIVOT lowers to conditional aggregation: one scan, no joins, no
    per-type self-union."""
    spark.catalog.clearCache()
    plan = _plan_simple(QUERIES["events_pivot"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan
    assert "Union" not in plan, plan


def test_kmv_sketch_is_two_exchanges_one_scan(spark, sf_dir):
    """KMV distinct sketch: rank AND per-group cardinality ride ONE
    window exchange after the distinct — no second aggregate branch
    re-scanning the input."""
    spark.catalog.clearCache()
    plan = _plan_simple(QUERIES["events_kmv_distinct"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange") <= 2, plan


def test_window_funcs_share_exchanges_per_family(spark, sf_dir):
    """Two window families (per-user, per-type) = exactly two exchanges;
    every function within a family reuses its family's sort."""
    spark.catalog.clearCache()
    plan = _plan_simple(QUERIES["events_window_funcs"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange") == 2, plan


def test_containment_broadcasts_and_avoids_cartesian(spark, sf_dir):
    """Containment verify: same contract as the Jaccard verify — the
    candidate set broadcasts, no cartesian/nested-loop pair blowup."""
    spark.catalog.clearCache()
    plan = _plan_simple(QUERIES["text_containment"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_span_dedup_no_cartesian_and_text_stays_out_of_gram_stages(spark, sf_dir):
    """Span dedup's heavy shuffles carry (hash, position) pairs; the
    text column re-enters only via the final doc_id join. No cartesian
    anywhere, and the gram-count aggregate has a partial (map-side)
    phase."""
    plan = _plan_simple(QUERIES["corpus_span_dedup"](spark, sf_dir))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "partial_count" in plan  # map-side combine on the gram groupBy


def test_scd2_single_key_shuffle(spark, sf_dir):
    """Both SCD2 windows (lag compression, lead close) must reuse ONE
    hash partitioning on the business key — a second Exchange would mean
    the windows repartition between themselves."""
    plan = _plan_simple(QUERIES["scd2_history"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1


def test_dq_profile_is_single_pass_no_join(spark, sf_dir):
    plan = _plan_simple(QUERIES["dq_profile"](spark, sf_dir))
    assert "Join" not in plan and "Window" not in plan
    # one scan of lineitem only
    assert plan.count("FileScan parquet") == 1


def test_anomaly_broadcasts_stats_no_window(spark, sf_dir):
    plan = _plan_simple(QUERIES["events_anomaly"](spark, sf_dir))
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan


def test_covariance_is_one_scan_one_partial_agg(spark, sf_dir):
    plan = _plan_simple(QUERIES["emb_covariance"](spark, sf_dir))
    assert plan.count("FileScan parquet") == 1
    assert "partial" in plan  # map-side partial aggregation of the moments
    assert "Join" not in plan


def test_pca_projection_zero_shuffle(spark, sf_dir):
    """The PCA projection itself is a literal-matrix map over the scan —
    after the one-time component fit, applying it must add no Exchange."""
    from nspc_etl_basic_spark.operators.similarity import pca_project
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.slice("embedding", 1, 4).alias("embedding")
    )
    comps = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    plan = _plan_simple(pca_project(emb, comps, "embedding"))
    assert "Exchange" not in plan


def test_heavy_hitters_pushes_candidate_filter_to_scan(spark, sf_dir):
    """The two-phase contract: phase 2's candidate filter must reach the
    parquet scan (In/isin pushdown), so the groupBy exchange carries the
    head keys only."""
    plan = _plan(QUERIES["events_heavy_hitters"](spark, sf_dir))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters:" in ln]
    assert any("In(user_id" in ln for ln in pushed), pushed


def test_pq_encode_is_projection_no_exchange(spark, sf_dir):
    """PQ encode is a pure literal-codebook projection — any Exchange
    is a scale regression."""
    plan = _plan_simple(QUERIES["emb_pq_encode"](spark, sf_dir))
    assert "Exchange" not in plan


def test_source_cap_is_single_group_exchange(spark, sf_dir):
    """cap_per_group: exactly one hash exchange (on the group key) for
    the rank window."""
    plan = _plan_simple(QUERIES["corpus_source_cap"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1


def test_keep_best_shares_component_exchange(spark, sf_dir):
    """The rank window and the member count both partition by
    component_id — Catalyst must not add a second component exchange
    for the count."""
    from nspc_etl_basic_spark.operators.dedup import keep_best_representative

    comp = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3)], ["doc_id", "component_id"]
    )
    qual = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 2)], ["doc_id", "n_chars"]
    )
    plan = _plan_simple(keep_best_representative(comp, qual, "n_chars"))
    assert plan.count("hashpartitioning(component_id") <= 1


def test_resample_windows_run_on_grid_not_events(spark, sf_dir):
    """resample/interp: two key-keyed exchanges feed the grid; the
    ffill/interp windows sort the GRID (span/step rows), and no
    cartesian appears anywhere."""
    for qid in ("events_resample", "events_resample_interp"):
        plan = _plan_simple(QUERIES[qid](spark, sf_dir))
        assert "CartesianProduct" not in plan, qid
        assert "BroadcastNestedLoopJoin" not in plan, qid


def test_ewma_is_single_aggregate_no_window(spark, sf_dir):
    """EWMA folds in-row: one hash aggregate over the key, no Window
    node, no second exchange."""
    plan = _plan_simple(QUERIES["events_ewma"](spark, sf_dir))
    assert "Window" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_rollup_chain_reuses_hour_partitioning(spark, sf_dir):
    """Daily-from-hourly: the hourly exchange on (hour, type) must be
    the only data-wide shuffle; the daily regroup exchanges only the
    hourly rollup rows (a second, rollup-sized exchange is expected —
    but never a third)."""
    plan = _plan_simple(QUERIES["events_rollup_chain"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 2


def test_end_to_end_pipeline_no_cartesian(spark, sf_dir):
    """The composed curation pipeline: no cartesian/nested-loop join
    anywhere in the quality->LSH->components->keep->split chain."""
    plan = _plan_simple(QUERIES["corpus_end_to_end"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_plan_summary_signals(spark, sf_dir):
    """plans/audit.plan_summary: known signals on known queries."""
    from nspc_etl_basic_spark.plans.audit import plan_summary

    s = plan_summary(QUERIES["q6_filter_pushdown"](spark, sf_dir))
    assert s["pushed_filter_scans"] >= 1 and s["cartesian"] == 0
    s2 = plan_summary(QUERIES["dedup_minhash"](spark, sf_dir))
    assert s2["exchanges"] == 0  # projection-only signature
    s3 = plan_summary(QUERIES["q10_returned_items"](spark, sf_dir))
    assert s3["take_ordered"] >= 1


def test_mv_refresh_broadcasts_delta_never_sorts_fact(spark, sf_dir):
    """Incremental MV: the delta side is broadcast-hinted and the plan
    contains no cartesian; a fact-table re-aggregation would show up as
    extra scans of orders beyond the feed legs + mv0."""
    plan = _plan_simple(QUERIES["orders_mv_refresh"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_cms_sketch_aggregates_map_side(spark, sf_dir):
    """CMS cells: partial aggregation before the exchange (the shuffle
    carries per-task partial cells, not exploded rows)."""
    plan = _plan_simple(QUERIES["events_cms_freq"](spark, sf_dir))
    assert "partial_sum" in plan or "HashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_epoch_shuffle_has_no_unpartitioned_window(spark, sf_dir):
    """epoch_shuffle's whole point: every Window node carries a
    partition spec (shard / shard+bucket) — an empty partitionBy would
    collapse the corpus onto one task."""
    from nspc_etl_basic_spark.operators.sampling import epoch_shuffle

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan_simple(epoch_shuffle(docs, "doc_id", seed=1, n_shards=4))
    for ln in plan.splitlines():
        if "Window" in ln and "windowspecdefinition" in ln:
            assert "shard" in ln, f"unpartitioned window: {ln}"


def test_rolling_window_is_range_frame(spark, sf_dir):
    plan = _plan_simple(QUERIES["events_rolling_24h"](spark, sf_dir))
    assert "RangeFrame" in plan  # a RowFrame here would be tie-unsafe


def test_setjoin_never_cartesian(spark, sf_dir):
    plan = _plan_simple(QUERIES["dedup_setjoin_exact"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_welch_is_single_aggregate_pass(spark, sf_dir):
    """welch_t: one scan of events, one aggregate exchange — the six
    conditional sums must not fan out into per-side scans."""
    plan = _plan_simple(QUERIES["events_ab_test"](spark, sf_dir))
    assert plan.count("Scan parquet") + plan.count("FileScan") <= 2


def test_partition_prune_resolves_at_planning_time(spark, sf_dir):
    """events_partition_prune: the event_type filter must appear as a
    PartitionFilter on the scan (directory-level pruning), not a data
    filter over all rows."""
    plan = _plan(QUERIES["events_partition_prune"](spark, sf_dir))
    pf = [ln for ln in plan.splitlines() if "PartitionFilters:" in ln]
    assert pf, "no PartitionFilters in the scan"
    assert "event_type" in pf[0]


def test_aggregate_pushdown_reaches_footer(spark, sf_dir):
    """events_agg_pushdown: with the V2 reader the count/min/max must
    appear as PushedAggregation on the scan (footer-stats walk)."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    old = spark.conf.get("spark.sql.sources.useV1SourceList")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try:
        df = spark.read.parquet(f"{sf_dir}/events.parquet").agg(
            F.count(F.lit(1)), F.min("value"), F.max("value")
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.sources.useV1SourceList", old)
        spark.conf.set("spark.sql.parquet.aggregatePushdown", "false")
    assert "PushedAggregation: [COUNT(*), MIN(value), MAX(value)]" in plan


def test_dpp_join_prunes_partitions_at_runtime(spark, sf_dir):
    plan = _plan_simple(QUERIES["events_dpp_join"](spark, sf_dir))
    assert "dynamicpruning" in plan.lower(), plan


def test_pack_greedy_one_shuffle_no_python(spark, sf_dir):
    """pack_greedy: exactly one exchange (the per-bucket groupBy of
    tiny (ring, key, weight) triples — text never moves) and the fold
    is an in-row JVM F.aggregate: no Python eval node, no window, no
    cartesian. The sequential unit is the bucket, never the corpus."""
    plan = _plan_simple(QUERIES["corpus_pack_greedy"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    for ln in plan.splitlines():
        assert "windowspecdefinition" not in ln, f"unexpected window: {ln}"


def test_pack_incremental_broadcasts_state_no_python(spark, sf_dir):
    """pack_incremental: the bin-state join is an explicit broadcast
    (|buckets| rows — the fact side never reshuffles for it), and like
    pack_greedy the fold stays JVM-side: no Python eval, no window, no
    cartesian."""
    plan = _plan_simple(QUERIES["corpus_pack_incremental"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    for ln in plan.splitlines():
        assert "windowspecdefinition" not in ln, f"unexpected window: {ln}"


def test_pack_report_aggregates_assignment_only(spark, sf_dir):
    plan = _plan_simple(QUERIES["corpus_pack_report"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# ---------------------------------------------------------------------------
# Round-7 curation family
# ---------------------------------------------------------------------------

def test_pack_materialize_no_python_no_cartesian(spark, sf_dir):
    """pack_materialize: token payload moves through joins/aggregates
    only — JVM end-to-end, no cartesian, no Python eval."""
    plan = _plan_simple(QUERIES["corpus_pack_materialize"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_mix_sources_is_scan_plus_broadcast_filter(spark, sf_dir):
    """corpus_mix_sources: the per-stratum thresholds broadcast back
    onto the scan; the corpus itself never hash-repartitions (the only
    exchange feeds the |strata|-row aggregate)."""
    plan = _plan_simple(QUERIES["corpus_mix_sources"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dsir_scores_broadcasts_weights(spark, sf_dir):
    """corpus_dsir_scores: the 1024-row weight table (eagerly collected
    on the leak-free default path, so it enters as a local relation)
    broadcasts; NOTHING is pinned in the CacheManager afterwards —
    round 8 closed an unowned corpus-sized cache leak here. (The spark
    fixture is session-scoped, so clear leftovers from earlier tests
    before asserting on the CacheManager.)"""
    spark.catalog.clearCache()
    df = QUERIES["corpus_dsir_scores"](spark, sf_dir)
    plan = _plan_simple(df)
    assert "BroadcastHashJoin" in plan
    assert "InMemoryTableScan" not in plan and "InMemoryRelation" not in plan
    assert "CartesianProduct" not in plan
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_quality_classifier_plan(spark, sf_dir):
    """corpus_quality_classifier: the <=3*512-row weight grid
    broadcasts onto the (doc, bucket) pre-aggregate; no cartesian (the
    labels x buckets grid is a range + literal-array explode, not a
    join); the corpus text stays JVM-side."""
    plan = _plan_simple(QUERIES["corpus_quality_classifier"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ngram_novelty_single_corpus_scan(spark, sf_dir):
    """corpus_ngram_novelty: ONE text-bearing scan (the group-list scan
    is column-pruned to the group column) — the naive formulation scans
    the corpus once per metric."""
    plan = _plan(QUERIES["corpus_ngram_novelty"](spark, sf_dir))
    text_scans = [
        ln for ln in plan.splitlines()
        if "ReadSchema:" in ln and "text" in ln
    ]
    assert len(text_scans) == 1, f"expected 1 text scan, got {len(text_scans)}"


def test_seqlen_plan_zero_corpus_shuffle(spark, sf_dir):
    """corpus_seqlen_plan: one global aggregate (no hash-partitioned
    exchange of corpus rows), reshaped driver-free with stack."""
    plan = _plan_simple(QUERIES["corpus_seqlen_plan"](spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ngram_overlap_no_cartesian(spark, sf_dir):
    """corpus_ngram_overlap: the pair matrix comes from a hash-keyed
    self-join, never a cartesian."""
    plan = _plan_simple(QUERIES["corpus_ngram_overlap"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bm25_has_no_token_partitioned_window(spark, sf_dir):
    """BM25's document frequency must be the map-side-combined groupBy
    aggregate carried on the broadcast query-term side, never a
    ``Window.partitionBy("token")`` over the full TF table: a Zipf-hot
    token would funnel df ~ N rows through ONE window task, and AQE
    cannot split a window the way it splits a skewed join. The only
    corpus-sized window allowed is doc-length (doc-sized partitions)."""
    for name in ("text_bm25_topk", "text_bm25_df_capped",
                 "text_hybrid_topk"):
        plan = _plan_simple(QUERIES[name](spark, sf_dir))
        for ln in plan.splitlines():
            if "windowspecdefinition" not in ln:
                continue
            # Window node prints `Window [fns], [partitionSpec],
            # [orderSpec]` — token in the PARTITION group is the
            # defect; token in an ORDER BY (the rarest-N rank) is fine
            groups = ln.split("], [")
            if len(groups) >= 2 and "token#" in groups[1]:
                raise AssertionError(
                    f"{name}: token-partitioned window survived: {ln}"
                )


def test_onepass_unionfind_result_is_always_broadcast(spark):
    """components_onepass(key_col=None) runs the WHOLE contracted pair
    set through one task — sound only while its consumers broadcast the
    result (a graph too big to broadcast was already too big for the
    plan). Pin that bound mechanically: with auto-broadcast disabled,
    incremental_components' two relabel joins against the union-find
    output must STILL be BroadcastHashJoin (i.e. the explicit
    F.broadcast hint is in the code path, not a size estimate); if
    someone drops the hint, this fails instead of the kernel silently
    becoming a single-task scale-killer."""
    from nspc_etl_basic_spark.operators.dedup import incremental_components

    new_nodes = spark.createDataFrame([(10,), (11,)], "doc_id long")
    pairs = spark.createDataFrame(
        [(10, 11), (11, 3)], "id_a long, id_b long"
    )
    existing = spark.createDataFrame(
        [(1, 1), (3, 1)], "doc_id long, component_id long"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = incremental_components(new_nodes, pairs, existing)
        plan = _plan_simple(out)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    merged_joins = [
        ln for ln in plan.splitlines()
        if "BroadcastHashJoin" in ln and "__m#" in ln
    ]
    assert len(merged_joins) >= 2, (
        f"union-find output must reach both relabel joins broadcast:\n{plan}"
    )
